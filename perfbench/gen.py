"""Seeded input generator for the benchmark workloads (numpy + pyarrow,
no Spark).

Every workload reads a generated ``documents.parquet`` with the same
schema as the shipped test corpora (doc_id, text, lang, source,
n_chars), so ``read_transcripts`` and the DuckDB oracle's
``TRANSCRIPTS_CTE_DUCKDB`` derive transcripts from the same bytes.
The same seed always gives the same bytes.

Text is built from sentences of the shape ``<subj> <pred> <obj> .``:
the rule tagger marks the predicate (a PRED_LEXICON word) and the
words on either side become the subject and object mentions. Mention
words are pseudo-words drawn from a Zipf distribution, so a few head
words dominate while the tail stays long. That shape is what the
layers under test depend on:

* blocking keys are 4-character prefixes of a mention's first and last
  word, so head words produce a few hot blocks (more than MAX_BLOCK
  distinct mentions, dropped from the exact compare) while most
  blocks stay small and go through the quadratic compare;
* short mentions that share most words (``a b`` / ``a b c``) pass the
  Jaccard threshold, so the pair and component stages have real work;
* the distinct-word tail is reported relative to the per-worker
  ``tokenize_word`` cache (65,536 entries).
"""

from __future__ import annotations

import hashlib
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from openie_spark.config import MAX_BLOCK, PRED_LEXICON, STOP_MENTIONS, TURNS_PER_CONV
from openie_spark.kg.linking import BLOCK_PREFIX

TOKENIZER_CACHE = 65_536   # per-worker tokenize_word LRU entries

# kg corpus shape
KG_DELTA_SHARE = 0.1       # last conversations, merged by run_incremental
KG_SENTS_PER_DOC = 6
KG_VOCAB = 6000            # pseudo-words the mentions are made of
KG_ENTITIES = 5000         # entities, three aliases each
KG_ZIPF_A = 0.7            # entity and single-word popularity
KG_FIRST_A = 1.5           # first-word popularity: blocks of every size below MAX_BLOCK
KG_HEAD_SHARE = 0.3        # subjects "<head> <uniform word>": one hot first-word block
KG_WORD_SHARE = 0.15       # mentions that are a single word

# eval corpus shape
EVAL_SENTS_PER_DOC = 4
EVAL_VOCAB = 120_000       # a flat Zipf over many words: a long distinct-word tail
EVAL_ZIPF_A = 0.8

_ONSETS = ("b", "c", "d", "f", "g", "h", "j", "k", "l", "m", "n", "p",
           "r", "s", "t", "v", "w", "z", "br", "cl", "dr", "gr", "pl",
           "st", "tr")
_VOWELS = ("a", "e", "i", "o", "u", "ai", "ou")
_LANGS = ("en", "es", "de", "zh")


def pseudo_words(n: int, salt: str) -> list[str]:
    """``n`` distinct pronounceable words, a pure function of (n, salt).
    Two to four syllables each; none collides with the predicate
    lexicon or a stop mention, so only the generator decides where
    predicates fall and every mention is linkable."""
    rng = np.random.default_rng(int.from_bytes(
        hashlib.sha256(salt.encode()).digest()[:8], "little"))
    banned = set(PRED_LEXICON) | set(STOP_MENTIONS)
    syll = [o + v for o in _ONSETS for v in _VOWELS]
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        m = 2 * (n - len(out)) + 64
        k = rng.integers(2, 5, size=m)
        s = rng.integers(len(syll), size=(m, 4))
        for ki, si in zip(k.tolist(), s.tolist()):
            w = "".join(syll[j] for j in si[:ki])
            if w not in seen and w not in banned:
                seen.add(w)
                out.append(w)
                if len(out) == n:
                    break
    return out


def zipf_ranks(rng: np.random.Generator, n_items: int, a: float, size: int) -> np.ndarray:
    """``size`` draws of ranks 0..n_items-1 with P(rank r) ∝ (r+1)^-a."""
    p = 1.0 / np.arange(1, n_items + 1, dtype=np.float64) ** a
    return rng.choice(n_items, size=size, p=p / p.sum())


def documents_table(texts: list[str], first_doc_id: int) -> pa.Table:
    n = len(texts)
    ids = np.arange(first_doc_id, first_doc_id + n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([_LANGS[i % len(_LANGS)] for i in ids], pa.string()),
        "source": pa.array([f"src{i % 7}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_documents(table: pa.Table, sf_dir: str) -> int:
    """Write ``<sf_dir>/documents.parquet``; returns its size in bytes."""
    import os

    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "documents.parquet")
    pq.write_table(table, path)
    return os.path.getsize(path)


# ----------------------------------------------------------- kg corpus

def kg_corpus(seed: int, n_docs: int = 800) -> tuple[pa.Table, pa.Table, dict]:
    """(prior, delta, stats) document tables for the KG workload.

    Mentions name entities drawn from a Zipf distribution. Each entity
    has three aliases ``f s``, ``f s x``, ``f s x y`` (token Jaccard
    2/3 and 3/4 between neighbours, so linking merges them into one
    small component); its first word ``f`` is Zipf-drawn too (exponent
    KG_FIRST_A), which gives blocks of every size below MAX_BLOCK. On
    top of that KG_HEAD_SHARE of the subjects are ``<head> <w>`` with
    ``w`` uniform: nearly all distinct, all in one hot first-token
    block. KG_WORD_SHARE of the mentions are single Zipf words.

    ``delta`` holds the last KG_DELTA_SHARE of the documents, cut on a
    conversation boundary (TURNS_PER_CONV documents per conversation),
    so its conv_ids are all new to the prior graph."""
    rng = np.random.default_rng(seed)
    words = pseudo_words(KG_VOCAB, "kg-vocab")
    preds = list(PRED_LEXICON)
    # entity catalogue: (first, second, extra, extra2) word ranks
    ent = np.concatenate([
        1 + zipf_ranks(rng, KG_VOCAB - 1, KG_FIRST_A, KG_ENTITIES)[:, None],
        rng.integers(1, KG_VOCAB, size=(KG_ENTITIES, 3))], axis=1)
    n_sents = n_docs * KG_SENTS_PER_DOC
    n_m = 2 * n_sents
    kind = rng.random(n_m)
    ent_pick = zipf_ranks(rng, KG_ENTITIES, KG_ZIPF_A, n_m)
    alias_len = rng.integers(2, 5, size=n_m)
    word_pick = 1 + zipf_ranks(rng, KG_VOCAB - 1, KG_ZIPF_A, n_m)
    uniform = rng.integers(1, KG_VOCAB, size=n_m)
    pred_idx = rng.integers(len(preds), size=n_sents)
    mentions: list[str] = []
    for i in range(n_m):
        if i % 2 == 0 and kind[i] < KG_HEAD_SHARE:
            mentions.append(f"{words[0]} {words[uniform[i]]}")
        elif kind[i] > 1.0 - KG_WORD_SHARE:
            mentions.append(words[word_pick[i]])
        else:
            e = ent[ent_pick[i]]
            mentions.append(" ".join(words[r] for r in e[:alias_len[i]]))
    texts = [
        " ".join(f"{mentions[2 * i]} {preds[pred_idx[i]]} {mentions[2 * i + 1]} ."
                 for i in range(d * KG_SENTS_PER_DOC, (d + 1) * KG_SENTS_PER_DOC))
        for d in range(n_docs)
    ]
    n_delta_convs = max(1, round(n_docs * KG_DELTA_SHARE / TURNS_PER_CONV))
    n_prior = n_docs - n_delta_convs * TURNS_PER_CONV
    prior = documents_table(texts[:n_prior], 0)
    delta = documents_table(texts[n_prior:], n_prior)
    stats = {
        "turns": n_docs,
        "prior_turns": n_prior,
        "delta_turns": n_docs - n_prior,
        "delta_share": round((n_docs - n_prior) / n_docs, 4),
        **kg_text_stats(texts),
    }
    return prior, delta, stats


def block_keys(norm: str) -> set[str]:
    """The linking layer's blocking keys of a normalized mention: tagged
    4-character prefixes of its first and last word."""
    ws = norm.split(" ")
    return {"f|" + ws[0][:BLOCK_PREFIX], "l|" + ws[-1][:BLOCK_PREFIX]}


def kg_text_stats(texts: list[str]) -> dict:
    """Realized skew of a generated KG corpus, computed the way the
    linking layer sees it: distinct subject/object mentions, their
    blocking keys, and the share of mentions that sit in a hot block."""
    lexicon = set(PRED_LEXICON)
    norms: Counter = Counter()
    word_set: set[str] = set()
    for t in texts:
        for sent in t.split(" . "):
            ws = sent.rstrip(" .").split(" ")
            word_set.update(ws)
            p = next(i for i, w in enumerate(ws) if w in lexicon)
            norms.update((" ".join(ws[:p]), " ".join(ws[p + 1:])))
    block_size = Counter(k for m in norms for k in block_keys(m))
    hot = {k for k, n in block_size.items() if n > MAX_BLOCK}
    in_hot = sum(1 for m in norms if block_keys(m) & hot)
    occ = sorted(norms.values(), reverse=True)
    return {
        "distinct_mentions": len(norms),
        "distinct_words": len(word_set),
        "blocks": len(block_size),
        "hot_blocks": len(hot),
        "hot_key_share": round(len(hot) / max(len(block_size), 1), 4),
        "mentions_in_hot_blocks": round(in_hot / max(len(norms), 1), 4),
        "head_mention_share": round(sum(occ[:10]) / max(sum(occ), 1), 4),
    }


# --------------------------------------------------------- eval corpus

def eval_corpus(seed: int, n_docs: int) -> tuple[pa.Table, list[tuple], dict]:
    """(documents, gold, stats) for the OIE-evaluation workload.

    Each sentence is ``<subj> <pred> <obj> .`` with a known gold tuple
    ``(sent, pred, [subj, obj])``; ``sent`` is the space-joined
    sentence exactly as sentence segmentation emits it, so gold and
    extracted tuples key to the same sentence. A flat Zipf over a large
    pseudo-word vocabulary gives a long distinct-word tail for the
    WordPiece tokenizer."""
    rng = np.random.default_rng(seed)
    words = pseudo_words(EVAL_VOCAB, "eval-vocab")
    preds = list(PRED_LEXICON)
    n_sents = n_docs * EVAL_SENTS_PER_DOC
    lens = rng.integers(2, 7, size=(n_sents, 2))
    ranks = zipf_ranks(rng, EVAL_VOCAB, EVAL_ZIPF_A, int(lens.sum()))
    pred_idx = rng.integers(len(preds), size=n_sents)
    pos = 0
    texts: list[str] = []
    gold: list[tuple] = []
    word_set: set[str] = set()
    for d in range(n_docs):
        sents = []
        for s in range(EVAL_SENTS_PER_DOC):
            i = d * EVAL_SENTS_PER_DOC + s
            subj_w = [words[r] for r in ranks[pos:pos + lens[i, 0]]]
            pos += lens[i, 0]
            obj_w = [words[r] for r in ranks[pos:pos + lens[i, 1]]]
            pos += lens[i, 1]
            word_set.update(subj_w)
            word_set.update(obj_w)
            subj, obj, pred = " ".join(subj_w), " ".join(obj_w), preds[pred_idx[i]]
            sent = f"{subj} {pred} {obj} ."
            sents.append(sent)
            gold.append((sent, pred, [subj, obj]))
        texts.append(" ".join(sents))
    n_words = int(lens.sum()) + 2 * n_sents
    stats = {
        "turns": n_docs,
        "sentences": n_sents,
        "words": n_words,
        "distinct_words": len(word_set),
        "distinct_words_per_cache": round(len(word_set) / TOKENIZER_CACHE, 4),
    }
    return documents_table(texts, 0), gold, stats
