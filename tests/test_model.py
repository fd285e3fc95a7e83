"""Neural backend unit + e2e tests (SURVEY.md §5: T1/T3/T4/T5/T8)."""

from __future__ import annotations

import os
import numpy as np
import pytest

from openie_spark.config import IDX2TAG, TAGSET_OIE2016
from openie_spark.model import kernel, tokenizer, weights


def test_viterbi_matches_brute_force():
    """CRF decode must equal exhaustive search (torchcrf semantics,
    /root/reference/modules/decoder.py:15-17)."""
    w = weights.build_tagger(7)
    rng = np.random.default_rng(0)
    for T in (1, 2, 3, 4):
        emis = rng.normal(size=(1, T, weights.NTAGS)).astype(np.float32) * 3
        got = kernel.viterbi(w, emis, np.array([T]))[0]
        want = kernel.viterbi_brute(w, emis[0])
        assert got.tolist() == want.tolist(), f"T={T}"


def test_viterbi_batch_mask_independence():
    """Padding rows must not change a sequence's decode — decode each
    sequence alone vs inside a ragged batch."""
    w = weights.build_tagger(11)
    rng = np.random.default_rng(1)
    lens = np.array([3, 7, 5])
    T = int(lens.max())
    emis = rng.normal(size=(3, T, weights.NTAGS)).astype(np.float32)
    batch_paths = kernel.viterbi(w, emis, lens)
    for b, L in enumerate(lens):
        solo = kernel.viterbi(w, emis[b : b + 1, :L], np.array([L]))[0]
        assert batch_paths[b].tolist() == solo.tolist()


def test_tokenizer_alignment_contract():
    """Per-word pieces, is_head on first piece only, CLS/SEP wrapping
    (/root/reference/utils/dataset.py:43-46,110-114)."""
    words = ["Hi", "extraordinarily", "."]
    ids, seg, is_head, lengths, widx = tokenizer.encode_batch([words])
    L = int(lengths[0])
    assert ids[0, 0] == tokenizer.CLS_ID and ids[0, L - 1] == tokenizer.SEP_ID
    assert not is_head[0, 0] and not is_head[0, L - 1]
    # "extraordinarily" decomposes to several wordpieces, one head
    assert is_head[0].sum() == len(words)
    heads_widx = widx[0, is_head[0]]
    assert heads_widx.tolist() == [0, 1, 2]
    # continuation pieces carry the same word index as their head
    assert (widx[0, 1:L - 1] >= 0).all()


def test_tokenizer_ids_stable():
    assert tokenizer.tokenize_word("hello") == tokenizer.tokenize_word("hello")
    assert tokenizer.piece_id("abc") != tokenizer.piece_id("##abc")


def test_tokenizer_uses_wordpiece_vocab_with_hash_fallback():
    """T1: piece ids come from the greedy WordPiece match over the
    checked-in vocab; hash-fallback ids (non-ASCII words) live in a
    DISJOINT bucket range above the vocab."""
    from openie_spark.model.wordpiece import load_vocab

    v = load_vocab()
    assert tokenizer.tokenize_word("the") == (v["the"],)
    assert tokenizer.tokenize_word("thee")[0] == v["the"]
    assert all(i < len(v) for i in tokenizer.tokenize_word("q2x!z"))
    fallback = tokenizer.tokenize_word("café")
    assert all(len(v) <= i < weights.VOCAB_BUCKETS for i in fallback)
    assert tokenizer.tokenize_word("") == (tokenizer.PAD_ID,)


def test_weights_deterministic_and_versioned():
    a, b = weights.build_tagger(5), weights.build_tagger(5)
    assert a.version == b.version
    assert np.array_equal(a.embedding, b.embedding)
    assert weights.build_tagger(6).version != a.version


def test_decode_words_deterministic_and_valid():
    from openie_spark.model.infer import _decode_words

    sents = [["The", "cat", "sat", "."], ["Dogs", "bark", "loudly"]]
    t1 = _decode_words(sents, None, weights.PRED_SEED)
    t2 = _decode_words(sents, None, weights.PRED_SEED)
    assert t1 == t2
    for ws, tags in zip(sents, t1):
        assert len(tags) == len(ws)
        assert all(t in TAGSET_OIE2016 for t in tags)


def test_seg_channel_changes_decode_interface():
    """Stage-2 must actually consume the segment channel: identical
    inputs with different seg must be *able* to differ (emissions differ)."""
    from openie_spark.model.kernel import emissions
    from openie_spark.model.tokenizer import encode_batch

    w = weights.get_tagger(weights.ARG_SEED)
    words = [["alpha", "beta", "gamma", "delta"]]
    seg0 = [np.array([0, 0, 0, 0], dtype=np.int8)]
    seg1 = [np.array([0, 1, 1, 0], dtype=np.int8)]
    e0 = emissions(w, *_enc(encode_batch(words, seg0)))
    e1 = emissions(w, *_enc(encode_batch(words, seg1)))
    assert not np.allclose(e0, e1)


def _enc(enc):
    ids, seg, _, lengths, _ = enc
    return ids, seg, lengths


def test_neural_pipeline_end_to_end(spark):
    """transcripts → triples with backend='neural': valid schema, tag
    vocabulary, per-span fan-out keys, determinism across runs."""
    from openie_spark.operators.extract import (
        explode_extractions,
        extract_triples,
        tag_predicates,
    )
    from openie_spark.operators.sentences import segment_transcripts

    rows = [
        ("c0", 0, "user", "John is a teacher in London .", None),
        ("c0", 1, "assistant", "Mary wrote three books . They sold well .", None),
        ("c1", 0, "user", "The quick brown fox jumps over the lazy dog", None),
    ]
    t = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string, text string, tool string")
    sents = segment_transcripts(t)
    tagged = tag_predicates(sents, backend="neural")
    got = tagged.select("conv_id", "turn_idx", "sent_idx", "pred_tags", "n_words").collect()
    assert len(got) == 4
    for r in got:
        assert len(r.pred_tags) == r.n_words
        assert all(tag in TAGSET_OIE2016 for tag in r.pred_tags)

    exts = explode_extractions(tagged)
    for r in exts.collect():
        assert len(r.tags) == len(r.words)

    t1 = extract_triples(t, backend="neural").orderBy("conv_id", "turn_idx", "sent_idx", "ext_idx").collect()
    t2 = extract_triples(t, backend="neural").orderBy("conv_id", "turn_idx", "sent_idx", "ext_idx").collect()
    assert t1 == t2
    for r in t1:
        assert r.confidence == 1.0
        assert r.pred  # never empty (empty → ' ' literal)

# ---------------------------------------------------------------------------
# Neural-path content pinning (round-3): the neural driver query is
# rows-only at the oracle gate (inherently non-SQL), so kernel/BLAS/
# numpy drift would otherwise change 33k rows without failing a test.

# sha256 over sorted "col-name-sorted \x1f-joined" rows (the same
# normalization as tools/check_oracles.value_hash) of
# extract_triples(sf0.001 transcripts, backend='neural').
NEURAL_GOLDEN_SF0001 = (
    1985, "469255f7c7bf484492a8fffcd0de881242ecee5f984bd50d768f82f39eae8f7e")

_SF0001 = "/root/testdata/sf0.001"


def _content_hash(df):
    import hashlib

    def norm(v):
        if v is None:
            return "\x00"
        if isinstance(v, float):
            return f"{v:.6g}"
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(norm(x) for x in v) + "]"
        return str(v)

    cols = sorted(df.columns)
    lines = sorted(
        "\x1f".join(norm(r[c]) for c in cols) for r in df.collect())
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return len(lines), h.hexdigest()


@pytest.mark.parametrize("backend", ["neural"])
def test_neural_plan_builds_without_spark_jobs(spark, job_ids, backend):
    """Building a neural extraction plan runs no Spark job: no schema
    inference on the documents read, and no partition-count probe below
    segment_transcripts' shuffle (one would execute that shuffle stage
    under AQE). The tagging starts from at least the session's default
    parallelism."""
    from openie_spark.operators.extract import extract_triples
    from openie_spark.sources.transcripts import read_transcripts

    plan, jobs = job_ids(f"plan-{backend}", lambda: extract_triples(
        read_transcripts(spark, _SF0001), backend=backend))
    assert jobs == []
    assert plan.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism


def test_neural_content_golden_sf0001(spark):
    """Frozen content hash of the neural triples at sf0.001 — any
    kernel / numpy / BLAS / tokenizer drift fails HERE instead of
    silently changing the (rows-only-checked) driver query."""
    from openie_spark.operators.extract import extract_triples
    from openie_spark.sources.transcripts import derive_transcripts

    t = derive_transcripts(spark, _SF0001)
    got = _content_hash(extract_triples(t, backend="neural"))
    assert got == (NEURAL_GOLDEN_SF0001[0], NEURAL_GOLDEN_SF0001[1])


def test_neural_golden_detects_kernel_perturbation(spark):
    """Prove the golden actually bites: a (1+eps) emission-weight
    perturbation injected into the EXECUTOR workers (weights._perturb_eps
    via sc.environment, which keys fresh python workers) must change
    the content hash."""
    from openie_spark.operators.extract import extract_triples
    from openie_spark.sources.transcripts import derive_transcripts

    t = derive_transcripts(spark, _SF0001)
    env = spark.sparkContext.environment
    env["OPENIE_WEIGHTS_PERTURB"] = "0.25"
    try:
        n, h = _content_hash(extract_triples(t, backend="neural"))
    finally:
        env.pop("OPENIE_WEIGHTS_PERTURB", None)
    assert h != NEURAL_GOLDEN_SF0001[1]

# ------------------------------------------------------------ T1 wordpiece

def _bert_wordpiece_reference(text, vocab, unk="[UNK]", max_chars=100):
    """Independent transcription of the PUBLIC BERT
    WordpieceTokenizer.tokenize (greedy longest-match-first; the
    algorithm bert-base-cased applies per word in the reference's
    per-word loop, /root/reference/utils/dataset.py:70-73)."""
    output_tokens = []
    for token in text.split():
        chars = list(token)
        if len(chars) > max_chars:
            output_tokens.append(unk)
            continue
        is_bad = False
        start = 0
        sub_tokens = []
        while start < len(chars):
            end = len(chars)
            cur_substr = None
            while start < end:
                substr = "".join(chars[start:end])
                if start > 0:
                    substr = "##" + substr
                if substr in vocab:
                    cur_substr = substr
                    break
                end -= 1
            if cur_substr is None:
                is_bad = True
                break
            sub_tokens.append(cur_substr)
            start = end
        if is_bad:
            output_tokens.append(unk)
        else:
            output_tokens.extend(sub_tokens)
    return output_tokens


def test_wordpiece_matches_public_algorithm():
    """Randomized parity: our greedy matcher vs the transcription, on
    the shipped mini-vocab AND on a tiny synthetic vocab exercising
    multi-char backtracking."""
    import random

    from openie_spark.model.wordpiece import load_vocab, wordpiece_pieces

    rng = random.Random(31337)
    vocab = load_vocab()
    alphabet = "abcdefgz.#-é"
    for _ in range(2000):
        w = "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 14)))
        want = _bert_wordpiece_reference(w, vocab)
        got = wordpiece_pieces(w, vocab)
        assert (got if got is not None else ["[UNK]"]) == want, w

    tiny = {t: i for i, t in enumerate(
        ["[UNK]", "un", "##able", "##b", "##le", "##a", "able", "a", "b", "l", "e"])}
    for w in ["unable", "able", "ba", "unb", "bale", "zzz", "a" * 101]:
        want = _bert_wordpiece_reference(w, tiny)
        got = wordpiece_pieces(w, tiny)
        assert (got if got is not None else ["[UNK]"]) == want, w


def test_wordpiece_longest_match_and_continuations():
    """Pin the two properties that make it WordPiece rather than
    chunking: longest match wins at each position, and continuations
    carry the ## prefix."""
    from openie_spark.model.wordpiece import load_vocab, wordpiece_pieces

    v = load_vocab()
    assert wordpiece_pieces("the", v) == ["the"]          # whole-word hit
    assert wordpiece_pieces("customer", v) == ["customer"]
    got = wordpiece_pieces("thee", v)
    assert got is not None and got[0] == "the" and all(
        p.startswith("##") for p in got[1:])              # longest first
    # every printable-ASCII word is coverable (single chars in vocab)
    assert wordpiece_pieces("q2x!z", v) is not None
    # non-ASCII is not -> None (caller falls back to hash pieces)
    assert wordpiece_pieces("café", v) is None
    assert wordpiece_pieces("a" * 101, v) is None         # BERT char cap


def test_vocab_loads_from_zipimport(tmp_path):
    """The --py-files deploy path: the package reaches executors as a
    zip (``openie_spark.session.ship_package``), where ``__file__`` is not
    openable.  load_vocab must serve the vocab through the zipimport
    resource reader — a plain open() here broke triples_extract_neural
    whenever the driver ran from a non-repo cwd."""
    import subprocess
    import sys
    import zipfile

    import openie_spark

    root = os.path.dirname(os.path.dirname(os.path.abspath(openie_spark.__file__)))
    zp = tmp_path / "openie_spark.zip"
    with zipfile.ZipFile(zp, "w") as z:
        for dirpath, _, files in os.walk(os.path.join(root, "openie_spark")):
            for f in files:
                if f.endswith((".py", ".txt")):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, root))
    probe = (
        "import sys; sys.path.insert(0, sys.argv[1]);\n"
        "from openie_spark.model.wordpiece import load_vocab\n"
        "from openie_spark.model.tokenizer import tokenize_word\n"
        "v = load_vocab(); assert len(v) > 200, len(v)\n"
        "assert tokenize_word('the') != tokenize_word('a')\n"
        "print('ZIPOK', len(v))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe, str(zp)],
        capture_output=True, text=True, cwd=str(tmp_path),
    )
    assert out.returncode == 0, out.stderr
    assert "ZIPOK" in out.stdout
