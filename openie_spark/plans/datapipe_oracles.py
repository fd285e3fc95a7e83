"""DuckDB oracle SQL for the training-data pipeline operators
(openie_spark.datapipe.*) over the driver's ``documents`` /
``embeddings`` parquet views.

Every hash in the engine (minhash slots, band hashes, simhash token
hashes, fingerprints) is md5-derived exactly so these oracles can
recompute the full LSH / sketch structures independently — see
openie_spark/datapipe/hashing.py (md5h60). Numeric literals are cast
to DOUBLE explicitly: DuckDB parses ``1.05`` as DECIMAL and would
otherwise do float32/decimal math where Spark does float64. DuckDB
lambda indices are 1-based where Spark's are 0-based.
"""

from __future__ import annotations

from openie_spark.datapipe.dedup import (
    DOC_BANDS,
    DOC_JACCARD,
    DOC_ROWS,
    PERTURB_DROP,
    PLANT_OFFSET,
    SIMHASH_BAND_BITS,
    SIMHASH_BITS,
    SIMHASH_MAX_HAMMING,
)
from openie_spark.datapipe.multimodal import FRAME_BYTES, FRAME_STRIDE, HIST_BINS, KINDS
from openie_spark.datapipe.similarity import (
    IVF_CENTROIDS,
    IVF_NPROBE,
    NEAR_DUP_COSINE,
    PLANT_VEC_OFFSET,
    QUERY_MOD,
    TOPK,
)
from openie_spark.datapipe.textstats import (
    FP_MULT,
    FP_PRIME,
    LANG_PROFILES,
    STOPWORDS_EN,
    TOKEN_RE,
)


def _md5h60(x: str) -> str:
    return f"CAST(concat('0x', substr(md5({x}), 1, 15)) AS BIGINT)"


_TOKS = "list_filter(string_split({c}, ' '), x -> x <> '')"

# documents ∪ perturbed twins (drop every PERTURB_DROPth token) — the
# deterministic near-dup ground truth, mirroring dedup.planted_docs.
_PLANTED_CTE = f"""
planted AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {PLANT_OFFSET} AS doc_id,
         array_to_string(list_filter({_TOKS.format(c='text')},
                                     (x, i) -> i % {PERTURB_DROP} <> 0), ' ') AS text
  FROM documents
)"""

# word-3-gram shingles (distinct; whole-token-list fallback for short docs)
_SHINGLES_CTE = f"""
sh AS MATERIALIZED (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(toks) - 2, 1) + 1),
           i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS shingles
  FROM (SELECT doc_id, {_TOKS.format(c='text')} AS toks FROM planted)
)"""

_JACCARD = ("CAST(len(list_intersect({a}, {b})) AS DOUBLE)"
            " / (len({a}) + len({b}) - len(list_intersect({a}, {b})))")


# ------------------------------------------------------------- dedup

def exact_dedup_sql() -> str:
    return ("SELECT md5(text) AS text_hash, count(*) AS n_docs,"
            " min(doc_id) AS keep_doc_id FROM documents GROUP BY 1")


def ngram_pairs_sql() -> str:
    from openie_spark.datapipe.dedup import NGRAM_CAP

    j = _JACCARD.format(a="l.shingles", b="r.shingles")
    planted_capped = _PLANTED_CTE.replace(
        "FROM documents", f"FROM documents WHERE doc_id < {NGRAM_CAP}")
    return f"""WITH {planted_capped}, {_SHINGLES_CTE}
SELECT l.doc_id AS a, r.doc_id AS b, round({j}, 6) AS jaccard
FROM sh l JOIN sh r ON l.doc_id < r.doc_id
WHERE {j} >= {DOC_JACCARD}"""


def _minhash_doc_ctes(planted: str) -> str:
    """Minhash-LSH doc-pair path as a CTE chain ending in
    ``mhp(a, b, jaccard)``: signature slots → band hashes →
    band-bucket self-join → exact-Jaccard verification. ``planted``
    is any CTE chain ending in planted(doc_id, text) — the
    conversation-level twin and the dedup-eval audit reuse the whole
    pair path this way."""
    perm = DOC_BANDS * DOC_ROWS
    slot_list = []
    for k in range(perm):
        h = _md5h60("s || '#%d'" % k)
        slot_list.append(f"list_min(list_transform(shingles, s -> {h}))")
    slots = ", ".join(slot_list)
    band_exprs = ", ".join(
        _md5h60(
            "concat_ws(','," + ", ".join(
                f"CAST(sig[{b * DOC_ROWS + r + 1}] AS VARCHAR)" for r in range(DOC_ROWS)
            ) + ")"
        )
        for b in range(DOC_BANDS)
    )
    j = _JACCARD.format(a="sa", b="sb")
    return f"""{planted}, {_SHINGLES_CTE},
sigs AS (
  SELECT doc_id, shingles, [{slots}] AS sig FROM sh
),
banded AS MATERIALIZED (
  SELECT doc_id, shingles, b AS band_idx, list_extract([{band_exprs}], b + 1) AS band_hash
  FROM sigs, range(0, {DOC_BANDS}) t(b)
),
cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
         l.shingles AS sa, r.shingles AS sb
  FROM banded l JOIN banded r
    ON l.band_idx = r.band_idx AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id
),
mhp AS MATERIALIZED (
  SELECT a, b, {j} AS jaccard FROM cand WHERE {j} >= {DOC_JACCARD}
)"""


def minhash_pairs_sql(planted_cte: str | None = None) -> str:
    """Full minhash-LSH recomputation (see _minhash_doc_ctes)."""
    planted = planted_cte if planted_cte is not None else _PLANTED_CTE
    return (f"WITH {_minhash_doc_ctes(planted)}\n"
            "SELECT a, b, round(jaccard, 6) AS jaccard FROM mhp")


def _simhash_ctes() -> str:
    """planted → per-doc 60-bit simhash via per-bit majority vote."""
    votes = ", ".join(
        f"SUM(CASE WHEN (hv >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(SIMHASH_BITS)
    )
    combine = " + ".join(
        f"CASE WHEN COALESCE(v{b}, 0) >= 0 THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for b in range(SIMHASH_BITS)
    )
    return f"""{_PLANTED_CTE},
tokh AS (
  SELECT doc_id, {_md5h60('u.w')} AS hv
  FROM (SELECT doc_id, unnest({_TOKS.format(c='text')}) AS w FROM planted) u(doc_id, w)
),
votes AS (SELECT doc_id, {votes} FROM tokh GROUP BY doc_id),
sim AS MATERIALIZED (
  SELECT p.doc_id, {combine} AS simhash
  FROM (SELECT DISTINCT doc_id FROM planted) p LEFT JOIN votes v USING (doc_id)
)"""


def simhash_sql() -> str:
    return f"WITH {_simhash_ctes()}\nSELECT doc_id, simhash FROM sim"


def simhash_pairs_sql() -> str:
    n_bands = SIMHASH_BITS // SIMHASH_BAND_BITS
    mask = (1 << SIMHASH_BAND_BITS) - 1
    return f"""WITH {_simhash_ctes()},
banded AS (
  SELECT doc_id, simhash, b AS band_idx,
         (simhash >> (b * {SIMHASH_BAND_BITS})) & {mask} AS band_val
  FROM sim, range(0, {n_bands}) t(b)
),
cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b, l.simhash AS ha, r.simhash AS hb
  FROM banded l JOIN banded r
    ON l.band_idx = r.band_idx AND l.band_val = r.band_val AND l.doc_id < r.doc_id
)
SELECT a, b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= {SIMHASH_MAX_HAMMING}"""


# --------------------------------------------------------- textstats

def _ppm_sql(num: str, den: str) -> str:
    """Integer round-half-up ppm — mirrors textstats._ppm exactly."""
    return f"(2 * CAST({num} AS BIGINT) * 1000000 + {den}) // (2 * {den})"


def _ppm_wide_sql(num: str, den: str) -> str:
    """Twin of textstats._ppm_wide: round-half-up ppm in pure BIGINT
    arithmetic, exact for corpus-scale operands (den <= ~4.6e15) where
    _ppm_sql's 2*num*1e6 intermediate would overflow BIGINT (DuckDB
    errors, Spark wraps)."""
    a = f"((({num}) * 1000) // ({den}))"
    ra = f"((({num}) * 1000) % ({den}))"
    return f"{a} * 1000 + (2 * {ra} * 1000 + ({den})) // (2 * ({den}))"


def doc_stats_sql() -> str:
    stops = ", ".join(f"'{s}'" for s in STOPWORDS_EN)
    alpha_ppm = _ppm_sql("alpha", "greatest(n_chars, 1)")
    stop_ppm = _ppm_sql("stop_hits", "greatest(n_tokens, 1)")
    mean_ppm = _ppm_sql("n_chars - (n_tokens - 1)", "greatest(n_tokens, 1)")
    return f"""WITH b AS (
  SELECT doc_id, text, {_TOKS.format(c='text')} AS toks FROM documents
),
c AS (
  SELECT doc_id,
         CAST(len(toks) AS INT) AS n_tokens,
         CAST(length(text) AS INT) AS n_chars,
         CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS INT) AS alpha,
         len(list_filter(toks, x -> lower(x) IN ({stops}))) AS stop_hits
  FROM b
),
p AS (
  SELECT doc_id, n_tokens, n_chars,
         {alpha_ppm} AS alpha_ppm, {stop_ppm} AS stop_ppm, {mean_ppm} AS mean_ppm,
         CASE WHEN n_tokens BETWEEN 10 AND 5000 THEN 1000000 ELSE 500000 END AS len_ppm
  FROM c
)
SELECT doc_id, n_tokens, n_chars,
       CAST(mean_ppm AS DOUBLE) / 1e6 AS mean_word_len,
       CAST(alpha_ppm AS DOUBLE) / 1e6 AS alpha_ratio,
       CAST(stop_ppm AS DOUBLE) / 1e6 AS stopword_ratio,
       CAST(4 * len_ppm + 3 * alpha_ppm
            + 3 * least(5 * stop_ppm, 1000000) AS DOUBLE) / 1e7 AS quality
FROM p"""


def lang_id_sql() -> str:
    langs = sorted(LANG_PROFILES)
    scores = ", ".join(
        "CAST(len(list_filter(toks, x -> x IN ({w}))) AS INT) AS s_{l}".format(
            w=", ".join(f"'{x}'" for x in LANG_PROFILES[lang]), l=lang)
        for lang in langs
    )
    # argmax with alphabetically-first tie-break (matches the struct-max
    # in textstats.lang_id)
    branches = []
    for i, lang in enumerate(langs):
        conds = " AND ".join(f"s_{lang} >= s_{other}" for other in langs[i + 1:]) or "TRUE"
        branches.append(f"WHEN {conds} THEN '{lang}'")
    case = " ".join(branches[:-1]) + f" ELSE '{langs[-1]}'"
    gmax = ", ".join(f"s_{lang}" for lang in langs)
    sel = ", ".join(f"s_{lang}" for lang in langs)
    return f"""WITH t AS (
  SELECT doc_id, lang, {_TOKS.format(c='lower(text)')} AS toks FROM documents
),
scored AS (SELECT doc_id, lang, {scores} FROM t)
SELECT doc_id, lang, {sel},
       CASE WHEN greatest({gmax}) = 0 THEN 'und' {case} END AS lang_pred
FROM scored"""


def token_count_sql() -> str:
    return f"""SELECT doc_id,
       CAST(len({_TOKS.format(c='text')}) AS INT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '{TOKEN_RE}')) AS INT) AS re_units
FROM documents"""


def bpe_pairs_sql() -> str:
    """Twin of textstats.bpe_pair_counts: word-frequency collapse,
    end-of-word sentinel, adjacent-character pair counts weighted by
    word count, deterministic top-k by (n desc, pair asc)."""
    from openie_spark.datapipe.textstats import BPE_EOW, BPE_TOP_PAIRS

    return f"""WITH words AS (
  SELECT w || '{BPE_EOW}' AS word, count(*) AS n
  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents)
  GROUP BY 1
),
pairs AS (
  SELECT substr(word, CAST(i AS INT), 2) AS pair, CAST(sum(n) AS BIGINT) AS n
  FROM words, unnest(range(1, length(word))) AS r(i)
  GROUP BY 1
)
SELECT pair, n FROM pairs ORDER BY n DESC, pair LIMIT {BPE_TOP_PAIRS}"""


def bpe_merges_sql() -> str:
    """Twin of textstats.bpe_learn_merges: the FULL Sennrich merge loop
    unrolled to BPE_MERGES fixed rounds (the same unroll pattern as the
    LPA/k-core/walk oracles — the round count is a compile-time
    constant, so 'iterative' does not mean 'not SQL-expressible').

    Representation: each word's symbol sequence is ONE string with
    every boundary (edges included) exactly two spaces, e.g.
    ``[a, b, c>]`` = ``"  a  b  c>  "``. Under that invariant the
    round's merge application — replace the winning (l, r) pair
    leftmost-first non-overlapping in every word — is EXACTLY SQL
    ``replace(s, ' l  r ', ' lr ')``: the pattern consumes one space
    from each neighboring boundary, the replacement restores it, so
    two adjacent matches (shared middle boundary) both fire in one
    left-to-right scan and an overlapping second use of a just-merged
    symbol cannot (its boundary space was consumed), which is the
    published algorithm's semantics. Each round's argmax pair is a
    one-row CTE pulled into the replace via scalar subqueries
    (COALESCE to a never-occurring chr(1) pattern once the vocabulary
    exhausts, mirroring the Spark loop's break)."""
    from openie_spark.datapipe.textstats import BPE_EOW, BPE_MERGES

    ctes = [f"""
bpw AS MATERIALIZED (
  SELECT w || '{BPE_EOW}' AS word, count(*) AS n
  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents)
  GROUP BY 1
),
bv0 AS MATERIALIZED (
  SELECT ' ' || regexp_replace(word, '(.)', ' \\1 ', 'g') || ' ' AS s, n
  FROM bpw
)"""]
    for k in range(BPE_MERGES):
        ctes.append(f"""
bt{k} AS MATERIALIZED (
  SELECT l, r, CAST(sum(n) AS BIGINT) AS n
  FROM (
    SELECT syms[CAST(i AS INT)] AS l, syms[CAST(i AS INT) + 1] AS r, n
    FROM (SELECT string_split(trim(s, ' '), '  ') AS syms, n FROM bv{k}),
         unnest(range(1, len(syms))) AS u(i))
  GROUP BY 1, 2
  ORDER BY n DESC, l, r LIMIT 1
),
bv{k + 1} AS MATERIALIZED (
  SELECT replace(s,
    COALESCE(' ' || (SELECT l FROM bt{k}) || '  ' || (SELECT r FROM bt{k}) || ' ',
             chr(1)),
    COALESCE(' ' || (SELECT l || r FROM bt{k}) || ' ', '')) AS s, n
  FROM bv{k}
)""")
        # bv{BPE_MERGES} is intentionally built and unused: uniform codegen
    rounds = "\nUNION ALL\n".join(
        f'SELECT CAST({k} AS INT) AS merge_idx, l AS "left", r AS "right", n'
        f" FROM bt{k}" for k in range(BPE_MERGES))
    return ("WITH " + ",".join(ctes) + "\nSELECT * FROM (\n" + rounds
            + "\n) ORDER BY merge_idx")


def collocations_sql() -> str:
    """Twin of textstats.collocations: adjacent [a-z]+ bigram counts,
    unigram counts, Dice = 2*n_xy/(n_x+n_y) as _ppm_wide exact
    integer, top-k by (dice desc, bigram asc), min-count floor."""
    from openie_spark.datapipe.textstats import COLLOC_MIN, COLLOC_TOP

    dice = _ppm_wide_sql("2 * p.n_xy", "x.n_w + y.n_w")
    return f"""WITH words AS (
  SELECT regexp_extract_all(lower(text), '[a-z]+') AS ws FROM documents
),
pairs AS (
  SELECT ws[CAST(i AS INT)] AS w1, ws[CAST(i AS INT) + 1] AS w2,
         CAST(count(*) AS BIGINT) AS n_xy
  FROM words, unnest(range(1, len(ws))) AS r(i)
  GROUP BY 1, 2
  HAVING count(*) >= {COLLOC_MIN}
),
uni AS (
  SELECT w, CAST(count(*) AS BIGINT) AS n_w
  FROM (SELECT unnest(ws) AS w FROM words)
  GROUP BY 1
)
SELECT p.w1, p.w2, p.n_xy, x.n_w AS n_x, y.n_w AS n_y,
       CAST({dice} AS BIGINT) AS dice_ppm
FROM pairs p JOIN uni x ON p.w1 = x.w JOIN uni y ON p.w2 = y.w
ORDER BY dice_ppm DESC, p.w1, p.w2 LIMIT {COLLOC_TOP}"""


def kmv_distinct_sql() -> str:
    """Twin of textstats.kmv_distinct: distinct word-3-gram md5h60
    hashes per lang, global k-smallest via row_number (two-level
    salted top-k == global top-k, so the oracle skips the salt), KMV
    estimate as FLOOR of the same exactly-representable double
    division Spark evaluates."""
    from openie_spark.datapipe.textstats import KMV_K

    scale = (KMV_K - 1) << 60  # parsed as HUGEINT, casts to double exactly
    return f"""WITH toks AS (
  SELECT lang, {_TOKS.format(c='text')} AS toks FROM documents
),
grams AS (
  SELECT lang, unnest(list_distinct(list_transform(
           range(1, greatest(len(toks) - 2, 1) + 1),
           i -> array_to_string(list_slice(toks, i, i + 2), ' ')))) AS gram
  FROM toks
),
d AS (SELECT DISTINCT lang, {_md5h60('gram')} AS h FROM grams),
kept AS (
  SELECT lang, h FROM (
    SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS r FROM d
  ) WHERE r <= {KMV_K}
)
SELECT lang, CAST(count(*) AS INT) AS n_kept, max(h) AS kth_hash,
       CAST(CASE WHEN count(*) < {KMV_K} THEN count(*)
            ELSE floor(CAST({scale} AS DOUBLE) / CAST(max(h) AS DOUBLE)) END
            AS BIGINT) AS est_distinct
FROM kept GROUP BY lang"""


def sampled_quantiles_sql() -> str:
    """Twin of textstats.sampled_quantiles: bottom-k-by-md5h60(doc_id)
    uniform sample (two-level salted top-k == global, so the oracle
    skips the salt), nearest-rank integer quantiles over the sample,
    exact n_docs/min/max from a full pass. (h, n_words) tie order
    mirrors the Spark windows."""
    from openie_spark.datapipe.textstats import QUANT_K, QUANT_PCTS

    picks = ",\n       ".join(
        f"max(CASE WHEN vr = (n_sample * {p} + 99) // 100 THEN n_words END)"
        f" AS p{p}" for p in QUANT_PCTS)
    return f"""WITH stats AS (
  SELECT lang,
         CAST(len({_TOKS.format(c='text')}) AS INT) AS n_words,
         {_md5h60('CAST(doc_id AS VARCHAR)')} AS h
  FROM documents
),
exact AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         min(n_words) AS min_words, max(n_words) AS max_words
  FROM stats GROUP BY 1
),
kept AS (
  SELECT lang, n_words, h FROM (
    SELECT lang, n_words, h,
           row_number() OVER (PARTITION BY lang ORDER BY h, n_words) AS r
    FROM stats
  ) WHERE r <= {QUANT_K}
),
ranked AS (
  SELECT lang, n_words,
         row_number() OVER (PARTITION BY lang ORDER BY n_words, h) AS vr,
         CAST(count(*) OVER (PARTITION BY lang) AS INT) AS n_sample
  FROM kept
)
SELECT e.lang, e.n_docs, max(r.n_sample) AS n_sample,
       e.min_words, e.max_words,
       {picks}
FROM ranked r JOIN exact e USING (lang)
GROUP BY e.lang, e.n_docs, e.min_words, e.max_words"""


def hll_distinct_sql() -> str:
    """Twin of textstats.hll_distinct: 256 HLL registers from the
    md5h60 top bits, rank via bin() bitlength (identical unpadded
    semantics in both engines), harmonic sum as the exact BIGINT
    S = sum(2^(w+1-M_j)) incl. the empty-register 2^(w+1) terms, raw
    estimate FLOOR of the shared constant / S."""
    from openie_spark.datapipe.textstats import HLL_M, _HLL_C, _HLL_W

    mask = (1 << _HLL_W) - 1
    return f"""WITH toks AS (
  SELECT lang, {_TOKS.format(c='text')} AS toks FROM documents
),
grams AS (
  SELECT lang, unnest(list_distinct(list_transform(
           range(1, greatest(len(toks) - 2, 1) + 1),
           i -> array_to_string(list_slice(toks, i, i + 2), ' ')))) AS gram
  FROM toks
),
hs AS (
  SELECT lang, ({_md5h60('gram')} >> {_HLL_W}) AS bucket,
         ({_md5h60('gram')} & {mask}) AS suffix
  FROM grams
),
regs AS (
  SELECT lang, bucket,
         max(CASE WHEN suffix = 0 THEN {_HLL_W + 1}
             ELSE {_HLL_W + 1} - length(bin(suffix)) END) AS r
  FROM hs GROUP BY 1, 2
),
assembled AS (
  SELECT lang, CAST(count(*) AS INT) AS n_present,
         sum(1::BIGINT << ({_HLL_W + 1} - r)) AS s_present
  FROM regs GROUP BY 1
),
scored AS (
  SELECT lang, CAST({HLL_M} - n_present AS INT) AS n_zero,
         CAST(s_present + ({HLL_M} - n_present)::BIGINT
              * (1::BIGINT << {_HLL_W + 1}) AS BIGINT) AS sum_scaled
  FROM assembled
)
SELECT lang, n_zero, sum_scaled,
       CAST(floor({_HLL_C!r} / CAST(sum_scaled AS DOUBLE)) AS BIGINT) AS est_hll,
       (CAST(floor({_HLL_C!r} / CAST(sum_scaled AS DOUBLE)) AS BIGINT)
        <= {5 * HLL_M // 2} AND n_zero > 0) AS lc_gate
FROM scored"""


def fingerprint_sql() -> str:
    return f"""WITH t AS (
  SELECT doc_id,
         list_transform({_TOKS.format(c='text')},
                        s -> {_md5h60('s')} % {FP_PRIME}) AS hs
  FROM documents
)
SELECT doc_id,
       CASE WHEN len(hs) = 0 THEN CAST(0 AS BIGINT)
            ELSE list_reduce(hs, (a, b) -> (a * {FP_MULT} + b) % {FP_PRIME}) END AS fp
FROM t"""


def winnow_sql() -> str:
    """Twin of textstats.winnow_fingerprints — same selection rule
    expressed as a per-doc window min over exploded k-gram rows. The
    composite (hash, rightmost-pos) tie-break rides one lexicographic
    string key: zero-padded hash then zero-padded inverted position,
    so min(key) = (min hash, max pos)."""
    from openie_spark.datapipe.textstats import WINNOW_K, WINNOW_W

    k, w = WINNOW_K, WINNOW_W
    return f"""WITH clean AS (
  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS c
  FROM documents
),
grams AS (
  SELECT doc_id, CAST(i AS INT) AS pos,
         {_md5h60(f"substr(c, CAST(i AS INT), {k})")} AS h
  FROM clean, LATERAL unnest(range(1, len(c) - {k} + 2)) AS t(i)
  WHERE len(c) >= {k}
),
sel AS (
  SELECT doc_id, pos,
         min(lpad(CAST(h AS VARCHAR), 19, '0')
             || lpad(CAST(1000000000 - pos AS VARCHAR), 10, '0'))
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS key,
         count(*)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS cnt
  FROM grams
)
SELECT DISTINCT doc_id,
       CAST(1000000000 - CAST(substr(key, 20, 10) AS BIGINT) AS INT) AS pos,
       CAST(substr(key, 1, 19) AS BIGINT) AS fp
FROM sel WHERE cnt = {w} OR pos = 1"""


def substr_spans_sql() -> str:
    """Twin of dedup.substr_dup_spans over the planted corpus: L-token
    gram hashes, global-count >= 2 filter, consecutive positions merged
    into maximal spans via the pos - row_number island key."""
    from openie_spark.datapipe.dedup import SUBSTR_L

    L = SUBSTR_L
    gram = _md5h60(
        f"array_to_string(list_slice(toks, CAST(i AS INT), CAST(i AS INT) + {L - 1}), ' ')")
    return f"""WITH {_PLANTED_CTE},
tk AS (
  SELECT doc_id, {_TOKS.format(c='text')} AS toks FROM planted
),
pg AS (
  SELECT doc_id, CAST(i AS INT) AS pos, {gram} AS gh
  FROM tk, LATERAL unnest(range(1, len(toks) - {L} + 2)) AS t(i)
  WHERE len(toks) >= {L}
),
dup AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos, count(*) OVER (PARTITION BY gh) AS n_occ FROM pg)
  WHERE n_occ >= 2
),
isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM dup
)
SELECT doc_id, CAST(min(pos) AS INT) AS start_pos,
       CAST(max(pos) AS INT) AS end_pos,
       count(*) AS n_grams,
       CAST(max(pos) - min(pos) + {L} AS INT) AS span_tokens
FROM isl GROUP BY doc_id, island"""


# -------------------------------------------------------- similarity

_UNIT_CTE = """
ve AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM {src}),
un_all AS (
  SELECT vec_id, list_transform(v, x -> x / sqrt(list_inner_product(v, v))) AS unit FROM ve
),
un AS MATERIALIZED (
  -- degenerate-vector exclusion, the twin of with_unit's NULL-unit
  -- marker + `unit IS NOT NULL` filter on the Spark side: a zero-norm
  -- or NaN-bearing vector's native unit is all-NaN here, and NULL or
  -- empty embeddings make unit[1] NULL (isnan(NULL) is NULL -> row
  -- dropped). Filtering INSIDE the CTE keeps every consumer -- bucket
  -- builds, centroid sampling, rescoring -- on the same corpus the
  -- Spark operators see, so a future sf dir with one bad vector
  -- cannot silently skew one engine's candidate sets.
  SELECT vec_id, unit FROM un_all WHERE NOT isnan(unit[1])
)"""


def brute_topk_sql_oracle() -> str:
    # unz: kept as a named view of the (already filtered) unit CTE —
    # the exclusion itself now lives in _UNIT_CTE so all five
    # similarity oracles share it.
    return f"""WITH {_UNIT_CTE.format(src='embeddings')},
unz AS (SELECT vec_id, unit FROM un)
SELECT q_id, CAST(rank AS INT) AS rank, vec_id, cos FROM (
  SELECT q.q_id, c.vec_id,
         round(list_inner_product(q.q_vec, c.unit), 6) AS cos,
         row_number() OVER (PARTITION BY q.q_id
                            ORDER BY round(list_inner_product(q.q_vec, c.unit), 6) DESC,
                                     c.vec_id ASC) AS rank
  FROM (SELECT vec_id AS q_id, unit AS q_vec FROM unz WHERE vec_id % {QUERY_MOD} = 0) q
  CROSS JOIN unz c
  WHERE c.vec_id <> q.q_id
) WHERE rank <= {TOPK}"""


def ivf_topk_sql() -> str:
    """Recomputes the full IVF structure: md5-sampled centroids,
    argmax cell assignment, nprobe probing, exact rescoring — mirrors
    similarity.ivf_topk with round-6 + id tiebreaks at every ordering
    so the two engines agree bit-for-bit."""
    return f"""WITH {_UNIT_CTE.format(src='embeddings')},
cent AS MATERIALIZED (
  SELECT vec_id AS c_id, unit AS c_vec FROM un
  ORDER BY {_md5h60("CAST(vec_id AS VARCHAR)")}, vec_id
  LIMIT {IVF_CENTROIDS}
),
assign AS MATERIALIZED (
  SELECT vec_id, unit, c_id AS cell FROM (
    SELECT u.vec_id, u.unit, c.c_id,
           row_number() OVER (PARTITION BY u.vec_id
             ORDER BY round(list_inner_product(u.unit, c.c_vec), 6) DESC,
                      c.c_id ASC) AS rn
    FROM un u CROSS JOIN cent c) WHERE rn = 1
),
probe AS (
  SELECT q_id, q_vec, cell FROM (
    SELECT q.vec_id AS q_id, q.unit AS q_vec, c.c_id AS cell,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY round(list_inner_product(q.unit, c.c_vec), 6) DESC,
                      c.c_id ASC) AS rn
    FROM un q CROSS JOIN cent c WHERE q.vec_id % {QUERY_MOD} = 0) WHERE rn <= {IVF_NPROBE}
)
SELECT q_id, CAST(rank AS INT) AS rank, vec_id, cos FROM (
  SELECT p.q_id, a.vec_id,
         round(list_inner_product(p.q_vec, a.unit), 6) AS cos,
         row_number() OVER (PARTITION BY p.q_id
           ORDER BY round(list_inner_product(p.q_vec, a.unit), 6) DESC,
                    a.vec_id ASC) AS rank
  FROM probe p JOIN assign a ON p.cell = a.cell
  WHERE a.vec_id <> p.q_id
) WHERE rank <= {TOPK}"""


def ivfpq_topk_sql() -> str:
    """Recomputes the full IVFPQ structure (similarity.ivfpq_topk):
    md5-sampled coarse centroids + cell assignment (same CTEs as IVF),
    salted md5-sampled PQ codebooks, per-subspace code assignment by
    argmax(x·c − ½‖c‖², round-6, lowest-code tiebreak), ADC as an
    order-free BIGINT micro-unit sum, exact rescore of the top
    PQ_CAND shortlist."""
    from openie_spark.datapipe.similarity import (
        PQ_CAND,
        PQ_CODES,
        PQ_SALT,
        PQ_SUBSPACES,
    )

    m, ks = PQ_SUBSPACES, PQ_CODES
    sub = _EMB_DIM // m
    pq_h = _md5h60(f"'{PQ_SALT}#' || CAST(vec_id AS VARCHAR)")
    return f"""WITH {_UNIT_CTE.format(src='embeddings')},
cent AS MATERIALIZED (
  SELECT vec_id AS c_id, unit AS c_vec FROM un
  ORDER BY {_md5h60("CAST(vec_id AS VARCHAR)")}, vec_id
  LIMIT {IVF_CENTROIDS}
),
assign AS MATERIALIZED (
  SELECT vec_id, unit, c_id AS cell FROM (
    SELECT u.vec_id, u.unit, c.c_id,
           row_number() OVER (PARTITION BY u.vec_id
             ORDER BY round(list_inner_product(u.unit, c.c_vec), 6) DESC,
                      c.c_id ASC) AS rn
    FROM un u CROSS JOIN cent c) WHERE rn = 1
),
pqs AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS code, unit
  FROM (SELECT vec_id, unit, {pq_h} AS h FROM un ORDER BY h, vec_id LIMIT {ks})
),
cb AS MATERIALIZED (
  SELECT mm.m, p.code, p.unit[mm.m*{sub}+1 : (mm.m+1)*{sub}] AS cvec
  FROM pqs p, (SELECT unnest(range(0, {m})) AS m) mm
),
codes AS MATERIALIZED (
  SELECT vec_id, cell, m, code FROM (
    SELECT a.vec_id, a.cell, c.m, c.code,
           row_number() OVER (PARTITION BY a.vec_id, c.m
             ORDER BY round(list_inner_product(a.unit[c.m*{sub}+1 : (c.m+1)*{sub}], c.cvec)
                      - 0.5 * list_inner_product(c.cvec, c.cvec), 6) DESC,
                      c.code ASC) AS rn
    FROM assign a CROSS JOIN cb c) WHERE rn = 1
),
probe AS MATERIALIZED (
  SELECT q_id, q_vec, cell FROM (
    SELECT q.vec_id AS q_id, q.unit AS q_vec, c.c_id AS cell,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY round(list_inner_product(q.unit, c.c_vec), 6) DESC,
                      c.c_id ASC) AS rn
    FROM un q CROSS JOIN cent c WHERE q.vec_id % {QUERY_MOD} = 0) WHERE rn <= {IVF_NPROBE}
),
adc AS (
  SELECT p.q_id, k.vec_id,
         CAST(sum(CAST(round(list_inner_product(
             p.q_vec[k.m*{sub}+1 : (k.m+1)*{sub}], b.cvec) * 1000000.0) AS BIGINT)) AS BIGINT) AS adc
  FROM probe p
  JOIN codes k ON p.cell = k.cell
  JOIN cb b ON b.m = k.m AND b.code = k.code
  WHERE k.vec_id <> p.q_id
  GROUP BY p.q_id, k.vec_id
),
short AS (
  SELECT q_id, vec_id FROM (
    SELECT q_id, vec_id,
           row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, vec_id ASC) AS rn
    FROM adc) WHERE rn <= {PQ_CAND}
)
SELECT q_id, CAST(rank AS INT) AS rank, vec_id, cos FROM (
  SELECT s.q_id, s.vec_id,
         round(list_inner_product(q.unit, u.unit), 6) AS cos,
         row_number() OVER (PARTITION BY s.q_id
           ORDER BY round(list_inner_product(q.unit, u.unit), 6) DESC,
                    s.vec_id ASC) AS rank
  FROM short s JOIN un q ON q.vec_id = s.q_id JOIN un u ON u.vec_id = s.vec_id
) WHERE rank <= {TOPK}"""


_PLANTED_EMB_CTE = f"""
pe AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding FROM embeddings
  UNION ALL
  SELECT vec_id + {PLANT_VEC_OFFSET} AS vec_id,
         list_transform(embedding,
           (x, i) -> CASE WHEN i = 1 THEN CAST(x AS DOUBLE) * CAST(1.05 AS DOUBLE)
                          ELSE CAST(x AS DOUBLE) END) AS embedding
  FROM embeddings
)"""


_EMB_DIM = 64   # embeddings table dim (all sf dirs; asserted by tests)


def _sketch_expr(unit_col: str, dim: int = _EMB_DIM) -> str:
    """Sign-LSH sketch: bit p = sign(unit · plane_p), planes being the
    same md5-derived literals similarity._plane computes — full
    precision repr round-trips Python float → SQL DOUBLE exactly."""
    from openie_spark.datapipe.similarity import LSH_PLANES, _plane

    terms = []
    for p in range(LSH_PLANES):
        lits = ", ".join(f"CAST({x!r} AS DOUBLE)" for x in _plane(dim, p))
        terms.append(
            f"CASE WHEN list_inner_product({unit_col}, [{lits}]) >= 0 "
            f"THEN CAST({1 << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
    return " + ".join(terms)


def lsh_topk_sql() -> str:
    """Full sign-LSH recomputation for the approximate top-k
    (similarity.lsh_topk): identical md5-derived plane literals →
    sketches → band buckets → candidate union → exact rescoring with
    round-6 + vec_id tiebreaks. Upgrades dp_embedding_lsh from
    rows-only to hash-checked; the sign computation on the raw
    embeddings is the same sequential-double dot both engines already
    agree on for dp_embedding_pairs."""
    from openie_spark.datapipe.similarity import LSH_PLANE_BANDS, LSH_PLANES

    k, query_mod = 1, 10     # the dp_embedding_lsh query's parameters
    band_bits = LSH_PLANES // LSH_PLANE_BANDS
    mask = (1 << band_bits) - 1
    return f"""WITH {_PLANTED_EMB_CTE}, {_UNIT_CTE.format(src='pe')},
sk AS MATERIALIZED (
  SELECT vec_id, unit, {_sketch_expr('unit')} AS sketch FROM un
),
banded AS MATERIALIZED (
  SELECT vec_id, b AS band_idx, (sketch >> (b * {band_bits})) & {mask} AS band_val
  FROM sk, range(0, {LSH_PLANE_BANDS}) t(b)
),
cand AS (
  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS vec_id
  FROM banded q JOIN banded c
    ON q.band_idx = c.band_idx AND q.band_val = c.band_val
  WHERE q.vec_id % {query_mod} = 0 AND c.vec_id <> q.vec_id
)
SELECT q_id, CAST(rank AS INT) AS rank, vec_id, cos FROM (
  SELECT cd.q_id, cd.vec_id,
         round(list_inner_product(qs.unit, cs.unit), 6) AS cos,
         row_number() OVER (PARTITION BY cd.q_id
           ORDER BY round(list_inner_product(qs.unit, cs.unit), 6) DESC,
                    cd.vec_id ASC) AS rank
  FROM cand cd
  JOIN sk qs ON qs.vec_id = cd.q_id
  JOIN sk cs ON cs.vec_id = cd.vec_id
) WHERE rank <= {k}"""


def embedding_pairs_sql() -> str:
    """Mirrors the LSH-gated near-dup path: identical sketches → band
    buckets → candidate ids → exact rescoring."""
    from openie_spark.datapipe.similarity import LSH_PLANE_BANDS, LSH_PLANES

    band_bits = LSH_PLANES // LSH_PLANE_BANDS
    mask = (1 << band_bits) - 1
    return f"""WITH {_PLANTED_EMB_CTE}, {_UNIT_CTE.format(src='pe')},
sk AS MATERIALIZED (
  SELECT vec_id, unit, {_sketch_expr('unit')} AS sketch FROM un
),
banded AS MATERIALIZED (
  SELECT vec_id, b AS band_idx, (sketch >> (b * {band_bits})) & {mask} AS band_val
  FROM sk, range(0, {LSH_PLANE_BANDS}) t(b)
),
cand AS (
  SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
  FROM banded l JOIN banded r
    ON l.band_idx = r.band_idx AND l.band_val = r.band_val AND l.vec_id < r.vec_id
)
SELECT a, b, cos FROM (
  SELECT c.a, c.b, round(list_inner_product(ua.unit, ub.unit), 6) AS cos
  FROM cand c JOIN sk ua ON c.a = ua.vec_id JOIN sk ub ON c.b = ub.vec_id
) WHERE cos >= {NEAR_DUP_COSINE}"""


# -------------------------------------------------------- multimodal

def media_features_sql() -> str:
    """Byte histogram (16 bins of byte >> 4) over the utf-8 payload.
    Parity REQUIRES printable-ASCII text (byte == code point,
    strlen == byte count); rather than silently producing a confusing
    hash mismatch on a future non-ASCII sf dir, the oracle fails
    loudly: any text with a char outside [\\x20-\\x7e] raises via
    DuckDB error(). All HIST_BINS bins are emitted (including zeros),
    mirroring bincount(minlength=16)."""
    kinds = ", ".join(f"'{k}'" for k in KINDS)
    return f"""WITH m AS (
  SELECT doc_id AS media_id, ([{kinds}])[(doc_id % {len(KINDS)}) + 1] AS kind,
         CASE WHEN text ~ '^[ -~]*$' THEN text
              ELSE error('media_features_sql assumes printable-ASCII text; doc_id=' || doc_id)
         END AS text,
         strlen(text) AS nb
  FROM documents
),
pos AS (
  SELECT media_id, unicode(substr(text, CAST(u.i AS INT), 1)) // 16 AS bin
  FROM m, unnest(range(1, nb + 1)) u(i)
),
cnt AS (SELECT media_id, bin, count(*) AS c FROM pos GROUP BY 1, 2)
SELECT m.media_id, m.kind, CAST(m.nb AS BIGINT) AS n_bytes,
       CAST(t.bin AS INT) AS bin_idx, CAST(COALESCE(cnt.c, 0) AS BIGINT) AS n
FROM m
CROSS JOIN (SELECT unnest(range(0, {HIST_BINS})) AS bin) t
LEFT JOIN cnt ON cnt.media_id = m.media_id AND cnt.bin = t.bin"""


def media_frames_sql() -> str:
    video_mod = KINDS.index("video")
    return f"""
SELECT media_id, CAST(f AS INT) AS frame_idx,
       CAST(least({FRAME_BYTES}, nb - f * {FRAME_BYTES}) AS INT) AS n_bytes
FROM (SELECT doc_id AS media_id, strlen(text) AS nb
      FROM documents WHERE doc_id % {len(KINDS)} = {video_mod}) m,
     unnest(range(0, (nb + {FRAME_BYTES - 1}) // {FRAME_BYTES}, {FRAME_STRIDE})) u(f)"""


# ----------------------------------------------------------- quality

def gopher_signals_sql() -> str:
    """Twin of quality.gopher_signals — same exact-ppm formulas, same
    (cnt desc, gram asc) argmax, same instance-based dup-5-gram rule."""
    from openie_spark.datapipe.quality import (
        GOPHER_MAX_DUP5GRAM_FRAC,
        GOPHER_MAX_MEAN_WORD_LEN,
        GOPHER_MAX_TOP2GRAM_FRAC,
        GOPHER_MAX_WORDS,
        GOPHER_MIN_ALPHA_FRAC,
        GOPHER_MIN_MEAN_WORD_LEN,
        GOPHER_MIN_STOP_HITS,
        GOPHER_MIN_WORDS,
        GOPHER_STOPS,
    )

    stops = ", ".join(f"'{s}'" for s in GOPHER_STOPS)
    mean_ppm = _ppm_sql("word_chars", "greatest(n_words, 1)")
    alpha_ppm = _ppm_sql("alpha_words", "greatest(n_words, 1)")
    top2_ppm = _ppm_sql("least(cnt * gram_chars, word_chars)",
                        "greatest(word_chars, 1)")
    dup5_ppm = _ppm_sql("dup_inst", "greatest(tot_inst, 1)")
    return f"""WITH b AS (
  SELECT doc_id, {_TOKS.format(c='text')} AS toks FROM documents
),
c AS (
  SELECT doc_id,
         CAST(len(toks) AS INT) AS n_words,
         CAST(coalesce(list_sum(list_transform(toks, w -> length(w))), 0)
              AS BIGINT) AS word_chars,
         len(list_filter(toks, w -> regexp_matches(w, '[a-zA-Z]'))) AS alpha_words,
         CAST(len(list_filter([{stops}],
             s -> list_contains(list_transform(toks, w -> lower(w)), s)))
             AS INT) AS n_stop_hits,
         toks
  FROM b
),
g2 AS (
  SELECT doc_id, gram, count(*) AS cnt FROM (
    SELECT doc_id,
           unnest(list_transform(range(0, len(toks) - 1),
                                 i -> array_to_string(toks[i+1:i+2], ' '))) AS gram
    FROM b) GROUP BY doc_id, gram
),
top2 AS (
  SELECT doc_id, cnt, length(gram) - 1 AS gram_chars FROM (
    SELECT doc_id, gram, cnt,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY cnt DESC, gram ASC) AS rn
    FROM g2)
  WHERE rn = 1
),
g5 AS (
  SELECT doc_id,
         sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup_inst,
         sum(cnt) AS tot_inst
  FROM (
    SELECT doc_id, gram, count(*) AS cnt FROM (
      SELECT doc_id,
             unnest(list_transform(range(0, len(toks) - 4),
                                   i -> array_to_string(toks[i+1:i+5], ' '))) AS gram
      FROM b) GROUP BY doc_id, gram)
  GROUP BY doc_id
),
j AS (
  SELECT c.doc_id, n_words,
         CAST({mean_ppm} AS DOUBLE) / 1e6 AS mean_word_len,
         CAST({alpha_ppm} AS DOUBLE) / 1e6 AS frac_alpha_words,
         n_stop_hits,
         coalesce(CAST({top2_ppm} AS DOUBLE) / 1e6, 0.0) AS top2gram_frac,
         coalesce(CAST({dup5_ppm} AS DOUBLE) / 1e6, 0.0) AS dup5gram_frac
  FROM c
  LEFT JOIN top2 ON c.doc_id = top2.doc_id
  LEFT JOIN g5 ON c.doc_id = g5.doc_id
)
SELECT *,
       (n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS}
        AND mean_word_len >= {GOPHER_MIN_MEAN_WORD_LEN}
        AND mean_word_len <= {GOPHER_MAX_MEAN_WORD_LEN}
        AND frac_alpha_words >= {GOPHER_MIN_ALPHA_FRAC}
        AND n_stop_hits >= {GOPHER_MIN_STOP_HITS}
        AND top2gram_frac <= {GOPHER_MAX_TOP2GRAM_FRAC}
        AND dup5gram_frac <= {GOPHER_MAX_DUP5GRAM_FRAC}) AS passes_gopher
FROM j"""


def tfidf_top_terms_sql() -> str:
    """Twin of quality.tfidf_top_terms — identical two-step integer
    division, identical (score desc, term asc) ranking."""
    from openie_spark.datapipe.quality import TFIDF_TOP_K

    return f"""WITH b AS (
  SELECT doc_id, {_TOKS.format(c='text')} AS toks FROM documents
),
n AS (SELECT count(*) AS n_docs FROM documents),
tc AS (
  SELECT doc_id, n_tokens, term, count(*) AS cnt FROM (
    SELECT doc_id, len(toks) AS n_tokens, unnest(toks) AS term FROM b)
  GROUP BY doc_id, n_tokens, term
),
dfq AS (SELECT term, count(*) AS df FROM tc GROUP BY term),
s AS (
  SELECT doc_id, term, CAST(cnt AS BIGINT) AS cnt, CAST(df AS BIGINT) AS df,
         CAST((((cnt * 1000000) // n_tokens) * (n_docs + 1)) // (df + 1)
              AS BIGINT) AS score
  FROM tc JOIN dfq USING(term) CROSS JOIN n
)
SELECT doc_id, term, cnt, df, score, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term ASC) AS rank
  FROM s)
WHERE rank <= {TFIDF_TOP_K}"""


def _planted_pii_sql() -> str:
    from openie_spark.datapipe.quality import (
        PII_EMAIL_MOD,
        PII_PHONE_MOD,
        PII_URL_MOD,
    )

    return f"""
pii AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % {PII_EMAIL_MOD} = 0
                 THEN ' user' || CAST(doc_id AS VARCHAR) || '@example.com'
                 ELSE '' END
         || CASE WHEN doc_id % {PII_URL_MOD} = 0
                 THEN ' https://example.com/d/' || CAST(doc_id AS VARCHAR)
                 ELSE '' END
         || CASE WHEN doc_id % {PII_PHONE_MOD} = 0
                 THEN ' +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 ELSE '' END AS text
  FROM documents
)"""


def pii_scrub_sql() -> str:
    """Twin of quality.pii_scrub over quality.planted_pii — counts on
    the original text, URL→email→phone replacement order."""
    from openie_spark.datapipe.quality import EMAIL_RE, PHONE_RE, URL_RE

    # DuckDB single-quoted literals keep backslashes verbatim — pass
    # the patterns through untouched (doubling would corrupt \. and \+)
    e, u, p = EMAIL_RE, URL_RE, PHONE_RE
    return f"""WITH {_planted_pii_sql().strip()}
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{e}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{u}')) AS INT) AS n_urls,
       CAST(len(regexp_extract_all(text, '{p}')) AS INT) AS n_phones,
       regexp_replace(
         regexp_replace(
           regexp_replace(text, '{u}', '<URL>', 'g'),
           '{e}', '<EMAIL>', 'g'),
         '{p}', '<PHONE>', 'g') AS clean_text
FROM pii"""


def neardup_groups_sql() -> str:
    """Twin of dedup.neardup_groups over the planted corpus: the
    minhash pair query runs as a subquery, components come from a
    recursive reachability CTE (min reachable doc_id = the group
    label — identical to the min-label fixpoint), singletons coalesce
    to themselves."""
    return f"""WITH RECURSIVE {_PLANTED_CTE},
mp AS (
  SELECT a, b FROM ({minhash_pairs_sql()})
),
edges AS (SELECT a, b FROM mp UNION SELECT b, a FROM mp),
reach(node, r) AS (
  SELECT a AS node, a AS r FROM edges
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.node
),
comp AS (SELECT node AS doc_id, min(r) AS group_id FROM reach GROUP BY node),
labeled AS (
  SELECT p.doc_id, coalesce(c.group_id, p.doc_id) AS group_id
  FROM planted p LEFT JOIN comp c ON p.doc_id = c.doc_id
),
sizes AS (SELECT group_id, count(*) AS group_size FROM labeled GROUP BY group_id)
SELECT l.doc_id, l.group_id, s.group_size, l.doc_id = l.group_id AS is_keeper
FROM labeled l JOIN sizes s ON l.group_id = s.group_id"""


def stratified_sample_sql() -> str:
    """Twin of quality.stratified_sample — same md5 ticket, same
    per-lang ppm rates."""
    from openie_spark.datapipe.quality import (
        SAMPLE_DEFAULT_PPM,
        SAMPLE_RATES,
        SAMPLE_SALT,
    )

    whens = " ".join(
        f"WHEN lang = '{lang}' THEN {int(round(r * 1_000_000))}"
        for lang, r in sorted(SAMPLE_RATES.items()))
    ticket = _md5h60(f"'{SAMPLE_SALT}#' || CAST(doc_id AS VARCHAR)")
    return f"""SELECT doc_id, lang, source, {ticket} % 1000000 AS ticket
FROM documents
WHERE {ticket} % 1000000 < (CASE {whens} ELSE {SAMPLE_DEFAULT_PPM} END)"""


def pack_sequences_sql() -> str:
    """Twin of quality.pack_sequences — same ticket order, same
    start-position window sum, same floor/mod pack math."""
    from openie_spark.datapipe.quality import PACK_BUDGET_TOKENS, PACK_SALT

    ticket = _md5h60(f"'{PACK_SALT}#' || CAST(doc_id AS VARCHAR)")
    return f"""WITH b AS (
  SELECT doc_id, CAST(len({_TOKS.format(c='text')}) AS INT) AS n_tokens,
         {ticket} AS ticket
  FROM documents
),
s AS (
  SELECT doc_id, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (
           ORDER BY ticket, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         AS start
  FROM b
)
SELECT doc_id, n_tokens,
       start // {PACK_BUDGET_TOKENS} AS pack_id,
       start % {PACK_BUDGET_TOKENS} AS pack_offset
FROM s"""


def curated_corpus_sql() -> str:
    """Twin of quality.curated_corpus: composes the three stage oracles
    as subqueries."""
    from openie_spark.datapipe.quality import CURATE_MIN_QUALITY

    return f"""WITH keepers AS (
  SELECT keep_doc_id AS doc_id FROM ({exact_dedup_sql()})
),
quality AS (
  SELECT doc_id, quality >= {CURATE_MIN_QUALITY} AS passes_gopher
  FROM ({doc_stats_sql()})
),
sampled AS (SELECT doc_id FROM ({stratified_sample_sql()})),
clean AS (
  SELECT doc_id, NOT contaminated AS is_clean FROM ({decontaminate_sql()})
),
flags AS (
  SELECT d.doc_id,
         k.doc_id IS NOT NULL AS is_unique,
         coalesce(q.passes_gopher, FALSE) AS passes_quality,
         s.doc_id IS NOT NULL AS in_sample,
         coalesce(c.is_clean, FALSE) AS is_clean
  FROM documents d
  LEFT JOIN keepers k ON d.doc_id = k.doc_id
  LEFT JOIN quality q ON d.doc_id = q.doc_id
  LEFT JOIN sampled s ON d.doc_id = s.doc_id
  LEFT JOIN clean c ON d.doc_id = c.doc_id
)
SELECT *, is_unique AND passes_quality AND in_sample AND is_clean AS kept
FROM flags"""


def _grams_cte(src_sql: str, n: int) -> str:
    """Shared t/grams CTE pair: distinct (doc_id, md5h60 gram hash) of
    word ``n``-grams over ``src_sql`` (doc_id, text) — the twin of
    decontam.gram_hashes (whole-token-list fallback under n tokens,
    NULL text keeps one NULL-gh row)."""
    toks = _TOKS.format(c="text")
    gh = _md5h60("g")
    return f"""t AS (
  SELECT doc_id, {toks} AS toks FROM ({src_sql})
),
grams AS (
  SELECT DISTINCT doc_id, {gh} AS gh FROM (
    SELECT doc_id,
           array_to_string(list_slice(toks, i, i + {n - 1}), ' ') AS g
    FROM t, UNNEST(range(1, len(toks) - {n - 2})) AS u(i)
    WHERE len(toks) >= {n}
    UNION ALL
    SELECT doc_id, array_to_string(toks, ' ') AS g
    FROM t WHERE len(toks) < {n} OR toks IS NULL
  )
)"""


def decontaminate_sql() -> str:
    """Twin of decontam.decontaminate — same 8-gram build (whole-list
    fallback under N tokens), same md5h60 gram hashes and salted eval
    ticket, same integer-ppm contamination math."""
    from openie_spark.datapipe.decontam import (
        DECON_CONTAM_PPM,
        DECON_HOLDOUT_PPM,
        DECON_N,
        DECON_SALT,
    )

    ticket = _md5h60(f"'{DECON_SALT}#' || CAST(doc_id AS VARCHAR)")
    ppm = _ppm_sql("n_hit", "greatest(n_grams, 1)")
    return f"""WITH {_grams_cte("SELECT doc_id, text FROM documents", DECON_N)},
ev AS (
  SELECT DISTINCT gh FROM grams
  WHERE {ticket} % 1000000 < {DECON_HOLDOUT_PPM}
),
agg AS (
  SELECT g.doc_id,
         CAST(count(*) AS BIGINT) AS n_grams,
         CAST(sum(CASE WHEN ev.gh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hit
  FROM grams g LEFT JOIN ev ON g.gh = ev.gh
  WHERE {ticket.replace('doc_id', 'g.doc_id')} % 1000000 >= {DECON_HOLDOUT_PPM}
  GROUP BY g.doc_id
)
SELECT doc_id, n_grams, n_hit,
       CAST({ppm} AS BIGINT) AS contam_ppm,
       ({ppm}) >= {DECON_CONTAM_PPM} AS contaminated
FROM agg"""


def boilerplate_sql() -> str:
    """Twin of decontam.boilerplate_stats over planted_boilerplate —
    same banner planting, same shared gram CTE, same df floor and
    integer-ppm flag math."""
    from openie_spark.datapipe.decontam import (
        BOILER_BANNER,
        BOILER_EVERY,
        BOILER_FLAG_PPM,
        BOILER_MIN_DOCS,
        DECON_N,
    )

    planted = (
        "SELECT doc_id, CASE WHEN doc_id % {every} = 0 "
        "THEN text || ' {banner}' ELSE text END AS text FROM documents"
    ).format(every=BOILER_EVERY, banner=BOILER_BANNER)
    ppm = _ppm_sql("n_boiler", "greatest(n_grams, 1)")
    return f"""WITH {_grams_cte(planted, DECON_N)},
boiler AS (
  SELECT gh FROM (SELECT gh, count(*) AS df FROM grams GROUP BY gh)
  WHERE df >= {BOILER_MIN_DOCS}
),
agg AS (
  SELECT g.doc_id,
         CAST(count(*) AS BIGINT) AS n_grams,
         CAST(sum(CASE WHEN b.gh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_boiler
  FROM grams g LEFT JOIN boiler b ON g.gh = b.gh
  GROUP BY g.doc_id
)
SELECT doc_id, n_grams, n_boiler,
       CAST({ppm} AS BIGINT) AS boiler_ppm,
       ({ppm}) >= {BOILER_FLAG_PPM} AS flagged
FROM agg"""


def chunk_documents_sql() -> str:
    """Twin of quality.chunk_documents — same tokenization, same
    pinned window/stride coverage rule."""
    from openie_spark.datapipe.quality import (
        CHUNK_SIZE_TOKENS as SIZE,
        CHUNK_STRIDE_TOKENS as STRIDE,
    )

    toks = _TOKS.format(c="text")
    return f"""WITH b AS (
  SELECT doc_id, {toks} AS toks, len({toks}) AS n
  FROM documents WHERE len({toks}) > 0
)
SELECT doc_id,
       CAST(k AS INTEGER) AS chunk_idx,
       CAST(k * {STRIDE} + 1 AS BIGINT) AS token_start,
       CAST(len(list_slice(toks, k * {STRIDE} + 1, k * {STRIDE} + {SIZE}))
            AS BIGINT) AS n_tokens,
       array_to_string(list_slice(toks, k * {STRIDE} + 1, k * {STRIDE} + {SIZE}), ' ')
         AS chunk_text
FROM b, UNNEST(range(0, (greatest(n - {SIZE}, 0) + {STRIDE} - 1) // {STRIDE} + 1)) AS u(k)"""


def embedding_groups_sql() -> str:
    """Twin of similarity.embedding_groups over the planted vectors:
    the LSH pair query runs as a subquery (its own WITH scope), the
    component label is the min reachable vec_id via a recursive CTE,
    singletons coalesce to themselves — same structure as
    neardup_groups_sql."""
    return f"""WITH RECURSIVE {_PLANTED_EMB_CTE},
ep AS MATERIALIZED (
  SELECT a, b FROM ({embedding_pairs_sql()})
),
edges AS (SELECT a, b FROM ep UNION SELECT b, a FROM ep),
reach(node, r) AS (
  SELECT a AS node, a AS r FROM edges
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.node
),
comp AS (SELECT node AS vec_id, min(r) AS group_id FROM reach GROUP BY node),
labeled AS (
  SELECT p.vec_id, coalesce(c.group_id, p.vec_id) AS group_id
  FROM pe p LEFT JOIN comp c ON p.vec_id = c.vec_id
),
sizes AS (SELECT group_id, count(*) AS group_size FROM labeled GROUP BY group_id)
SELECT l.vec_id, l.group_id, s.group_size, l.vec_id = l.group_id AS is_keeper
FROM labeled l JOIN sizes s ON l.group_id = s.group_id"""


def corpus_mixture_sql() -> str:
    """Twin of quality.corpus_mixture — same tokenization, same exact
    integer-ppm share math."""
    toks = _TOKS.format(c="text")
    return f"""WITH per AS (
  SELECT lang, source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len({toks})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang, source
)
SELECT lang, source, n_docs, n_tokens,
       CAST({_ppm_wide_sql('n_docs', 'sum(n_docs) OVER ()')} AS BIGINT) AS doc_ppm,
       CAST({_ppm_wide_sql('n_tokens', 'sum(n_tokens) OVER ()')} AS BIGINT) AS token_ppm
FROM per"""


def winnow_pairs_sql() -> str:
    """Twin of dedup.winnow_pairs on top of winnow_sql's selection:
    distinct (doc, fp), boilerplate buckets dropped whole, exact-ppm
    fingerprint-set Jaccard threshold."""
    from openie_spark.datapipe.dedup import (
        WINNOW_BUCKET_CAP,
        WINNOW_MIN_JACCARD_PPM,
    )

    return f"""WITH wfp AS ({winnow_sql()}),
wd AS (SELECT DISTINCT doc_id, fp FROM wfp),
wnf AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nf FROM wd GROUP BY 1),
wok AS (
  SELECT doc_id, fp FROM (
    SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS n_docs FROM wd)
  WHERE n_docs <= {WINNOW_BUCKET_CAP}
),
wp AS (
  SELECT l.doc_id AS a, r.doc_id AS b, CAST(count(*) AS BIGINT) AS n_shared
  FROM wok l JOIN wok r USING (fp)
  WHERE l.doc_id < r.doc_id GROUP BY 1, 2
)
SELECT a, b, n_shared, ca.nf AS nf_a, cb.nf AS nf_b,
       (2 * n_shared * 1000000 + (ca.nf + cb.nf - n_shared))
         // (2 * (ca.nf + cb.nf - n_shared)) AS jaccard_ppm
FROM wp JOIN wnf ca ON wp.a = ca.doc_id JOIN wnf cb ON wp.b = cb.doc_id
WHERE (2 * n_shared * 1000000 + (ca.nf + cb.nf - n_shared))
        // (2 * (ca.nf + cb.nf - n_shared)) >= {WINNOW_MIN_JACCARD_PPM}"""


def cms_heavy_hitters_sql() -> str:
    """Twin of textstats.cms_heavy_hitters: word-occurrence counts,
    the depth x width Count-Min counter table folded from them (same
    integers as a streaming build — increments are additive), min-of-
    rows estimate, global top-k by (est DESC, word ASC) (the two-level
    salted top-k on the Spark side is a superset of the global top-k,
    so the oracle skips the salt), exact integer-division over_ppm."""
    from openie_spark.datapipe.textstats import CMS_DEPTH, CMS_TOPK, CMS_WIDTH

    return f"""WITH toks AS (
  SELECT {_TOKS.format(c='text')} AS toks FROM documents
),
words AS (SELECT unnest(toks) AS word FROM toks),
exact AS (SELECT word, count(*) AS exact_count FROM words GROUP BY 1),
keyed AS (
  SELECT e.word, e.exact_count, r.row_i,
         {_md5h60("e.word || '#cms' || CAST(r.row_i AS VARCHAR)")}
           % {CMS_WIDTH} AS col
  FROM exact e, (SELECT unnest(range({CMS_DEPTH})) AS row_i) r
),
counters AS (
  SELECT row_i, col, sum(exact_count) AS counter
  FROM keyed GROUP BY 1, 2
),
est AS (
  SELECT k.word, k.exact_count, min(c.counter) AS est_count
  FROM keyed k JOIN counters c ON k.row_i = c.row_i AND k.col = c.col
  GROUP BY 1, 2
),
ranked AS (
  SELECT word, est_count, exact_count,
         row_number() OVER (ORDER BY est_count DESC, word ASC) AS rank
  FROM est
)
SELECT CAST(rank AS INT) AS rank, word,
       CAST(est_count AS BIGINT) AS est_count,
       CAST(exact_count AS BIGINT) AS exact_count,
       CAST((est_count - exact_count) * 1000000 // exact_count
            AS BIGINT) AS over_ppm
FROM ranked WHERE rank <= {CMS_TOPK}"""


def conv_minhash_pairs_sql() -> str:
    """Twin of kg.dialogue.conv_neardup_pairs: conversations flattened
    via ORDER BY turn_idx string_agg (≡ Spark's array_sort on
    (turn_idx, text) structs — turn_idx is unique per conv), perturbed
    twins planted with the same every-PERTURB_DROPth-token drop, then
    the standard minhash pair recomputation."""
    from openie_spark.sources.transcripts import TRANSCRIPTS_CTE_DUCKDB

    conv_planted = f"""{TRANSCRIPTS_CTE_DUCKDB},
convdoc AS (
  SELECT conv_id, string_agg(COALESCE(text, ''), ' ' ORDER BY turn_idx) AS text
  FROM transcripts GROUP BY conv_id),
planted AS (
  SELECT conv_id AS doc_id, text FROM convdoc
  UNION ALL
  SELECT conv_id || '~twin' AS doc_id,
         array_to_string(list_filter({_TOKS.format(c='text')},
                                     (x, i) -> i % {PERTURB_DROP} <> 0), ' ') AS text
  FROM convdoc)"""
    return minhash_pairs_sql(planted_cte=conv_planted)


def bloom_flags_sql() -> str:
    """Twin of decontam.bloom_flags over decontam.planted_exact: the
    identical md5-derived bitmap rebuilt in SQL, probes counted
    against it, exact membership from a distinct eval-hash semi-join."""
    from openie_spark.datapipe.decontam import (
        BLOOM_K,
        BLOOM_M_BITS,
        DECON_HOLDOUT_PPM,
        DECON_SALT,
    )
    from openie_spark.datapipe.dedup import PLANT_OFFSET

    tick = (f"CAST(concat('0x', substr(md5('{DECON_SALT}#' || "
            f"CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000")
    bit = ("CAST(concat('0x', substr(md5('bloom{j}#' || h), 1, 15)) "
           f"AS BIGINT) % {BLOOM_M_BITS}")
    bits_k = ", ".join(bit.format(j=j) for j in range(BLOOM_K))
    return f"""WITH planted AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {PLANT_OFFSET} AS doc_id, text FROM documents
),
hashed AS (
  SELECT doc_id, md5(text) AS h, ({tick}) < {DECON_HOLDOUT_PPM} AS is_eval
  FROM planted
),
keys AS (SELECT DISTINCT h FROM hashed WHERE is_eval),
bitmap AS (
  SELECT DISTINCT unnest([{bits_k}]) AS bit FROM keys
),
train AS (SELECT doc_id, h FROM hashed WHERE NOT is_eval),
probes AS (
  SELECT doc_id, unnest([{bits_k}]) AS bit FROM train
),
hits AS (
  SELECT doc_id, count(*) AS n_set FROM probes
  WHERE bit IN (SELECT bit FROM bitmap) GROUP BY 1
)
SELECT t.doc_id,
       COALESCE(hi.n_set, 0) = {BLOOM_K} AS bloom_hit,
       t.h IN (SELECT h FROM keys) AS true_member
FROM train t LEFT JOIN hits hi USING (doc_id)"""


def containment_pairs_sql() -> str:
    """Twin of dedup.containment_pairs on winnow_sql's selection:
    both directional round-half-up ppm containments, either-side
    threshold."""
    from openie_spark.datapipe.dedup import CONTAIN_MIN_PPM, WINNOW_BUCKET_CAP

    return f"""WITH cfp AS ({winnow_sql()}),
cd AS (SELECT DISTINCT doc_id, fp FROM cfp),
cnf AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nf FROM cd GROUP BY 1),
cok AS (
  SELECT doc_id, fp FROM (
    SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS n_docs FROM cd)
  WHERE n_docs <= {WINNOW_BUCKET_CAP}
),
cp AS (
  SELECT l.doc_id AS a, r.doc_id AS b, CAST(count(*) AS BIGINT) AS n_shared
  FROM cok l JOIN cok r USING (fp)
  WHERE l.doc_id < r.doc_id GROUP BY 1, 2
)
SELECT a, b, n_shared, ca.nf AS nf_a, cb.nf AS nf_b,
       (2 * n_shared * 1000000 + ca.nf) // (2 * ca.nf) AS cont_a_ppm,
       (2 * n_shared * 1000000 + cb.nf) // (2 * cb.nf) AS cont_b_ppm
FROM cp JOIN cnf ca ON cp.a = ca.doc_id JOIN cnf cb ON cp.b = cb.doc_id
WHERE (2 * n_shared * 1000000 + ca.nf) // (2 * ca.nf) >= {CONTAIN_MIN_PPM}
   OR (2 * n_shared * 1000000 + cb.nf) // (2 * cb.nf) >= {CONTAIN_MIN_PPM}"""


def bigram_likelihood_sql() -> str:
    """Twin of textstats.bigram_likelihood: adjacent [a-z]+ bigrams,
    global counts, per-doc integer mean corpus frequency; < 2-word
    docs report zeros."""
    return """WITH bl_words AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
  FROM documents
),
bl_b AS MATERIALIZED (
  SELECT doc_id, ws[CAST(i AS INT)] AS w1, ws[CAST(i AS INT) + 1] AS w2
  FROM bl_words, unnest(range(1, len(ws))) AS r(i)
),
bl_c AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_xy
  FROM bl_b GROUP BY 1, 2
),
bl_d AS (
  SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(c.n_xy) AS BIGINT) AS freq_sum
  FROM bl_b b JOIN bl_c c USING (w1, w2) GROUP BY 1
)
SELECT d.doc_id,
       CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(COALESCE(s.freq_sum, 0) AS BIGINT) AS freq_sum,
       CAST(COALESCE(s.freq_sum // s.n_bigrams, 0) AS BIGINT) AS avg_freq
FROM documents d LEFT JOIN bl_d s USING (doc_id)"""


def dup_group_histogram_sql() -> str:
    """Twin of dedup.dup_group_histogram: md5 text groups binned by
    bit_length(group size)."""
    return """WITH groups AS (
  SELECT md5(text) AS text_hash, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY 1
)
SELECT CAST(length(bin(n_docs)) AS INT) AS bin,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(min(n_docs) AS BIGINT) AS min_size,
       CAST(max(n_docs) AS BIGINT) AS max_size,
       CAST(sum(n_docs) AS BIGINT) AS sum_docs
FROM groups GROUP BY 1"""


def length_histogram_sql() -> str:
    """Twin of textstats.length_histogram: token counts binned by bit
    length, empty docs in bin 0."""
    return """WITH n AS (
  SELECT len(list_filter(string_split(text, ' '), x -> x <> '')) AS n
  FROM documents
)
SELECT CAST(CASE WHEN n = 0 THEN 0 ELSE length(bin(n)) END AS INT) AS bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(n) AS BIGINT) AS min_tokens,
       CAST(max(n) AS BIGINT) AS max_tokens,
       CAST(sum(n) AS BIGINT) AS sum_tokens
FROM n GROUP BY 1"""


def dedup_eval_sql() -> str:
    """Twin of __spark_entry__._q_dp_dedup_eval: minhash-LSH pairs vs
    the exact all-pairs n-gram ground truth on the SAME capped planted
    slice, rolled up to the one-row recall audit (the dedup-stage twin
    of kg_linking_eval)."""
    from openie_spark.datapipe.dedup import NGRAM_CAP

    planted_capped = _PLANTED_CTE.replace(
        "FROM documents", f"FROM documents WHERE doc_id < {NGRAM_CAP}")
    j = _JACCARD.format(a="l.shingles", b="r.shingles")
    return f"""WITH {_minhash_doc_ctes(planted_capped)},
exp AS MATERIALIZED (
  SELECT l.doc_id AS a, r.doc_id AS b
  FROM sh l JOIN sh r ON l.doc_id < r.doc_id
  WHERE {j} >= {DOC_JACCARD}
),
agg AS (
  SELECT CAST(COALESCE(SUM(in_exact), 0) AS BIGINT) AS n_exact,
         CAST(COALESCE(SUM(in_cand), 0) AS BIGINT) AS n_candidate,
         CAST(COALESCE(SUM(in_exact * in_cand), 0) AS BIGINT) AS n_both
  FROM (
    SELECT CASE WHEN e.a IS NOT NULL THEN 1 ELSE 0 END AS in_exact,
           CASE WHEN c.a IS NOT NULL THEN 1 ELSE 0 END AS in_cand
    FROM exp e FULL JOIN (SELECT a, b FROM mhp) c
      ON e.a = c.a AND e.b = c.b
  )
)
SELECT n_exact, n_candidate, n_both,
       CASE WHEN n_exact > 0 THEN
         (2 * n_both * 1000000 + n_exact) // (2 * n_exact) END AS recall_ppm,
       n_candidate - n_both AS n_extra
FROM agg"""


def _kmeans_ctes() -> str:
    """Shared CTE chain for the k-means twins: quantize, md5-bucket
    seeds, KMEANS_ITERS unrolled (assign, floor-mean, carry) rounds —
    the same fixed-round unroll pattern as the LPA/k-core oracles. The
    centroid mean uses the divisibility-exact floor formula
    (s - ((s % n) + n) % n) // n, identical to the Spark expression
    for negative sums too."""
    from openie_spark.datapipe.cluster import (
        KMEANS_ITERS,
        KMEANS_K,
        KMEANS_SALT,
        KMEANS_SCALE,
    )

    h = _md5h60(f"'{KMEANS_SALT}#' || CAST(vec_id AS VARCHAR)")
    parts = [f"""
kmq AS MATERIALIZED (
  SELECT vec_id, list_transform(
           embedding, e -> CAST(round(CAST(e AS DOUBLE) * {KMEANS_SCALE}) AS BIGINT)) AS qvec
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) > 0
    AND len(list_filter(embedding, e -> e IS NULL)) = 0
),
kmc0 AS MATERIALIZED (
  SELECT b.bucket AS cluster, q.qvec AS cv
  FROM (SELECT bucket, min(vec_id) AS rep
        FROM (SELECT vec_id, {h} % {KMEANS_K} AS bucket FROM kmq)
        GROUP BY 1) b
  JOIN kmq q ON q.vec_id = b.rep
)"""]
    for t in range(1, KMEANS_ITERS + 2):
        parts.append(f"""
kma{t} AS MATERIALIZED (
  SELECT vec_id, qvec, cluster, d AS dist_sq FROM (
    SELECT q.vec_id, q.qvec, c.cluster,
           CAST(list_sum(list_transform(range(1, len(q.qvec) + 1),
                i -> (q.qvec[CAST(i AS INT)] - c.cv[CAST(i AS INT)])
                   * (q.qvec[CAST(i AS INT)] - c.cv[CAST(i AS INT)]))) AS BIGINT) AS d,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY CAST(list_sum(list_transform(range(1, len(q.qvec) + 1),
                i -> (q.qvec[CAST(i AS INT)] - c.cv[CAST(i AS INT)])
                   * (q.qvec[CAST(i AS INT)] - c.cv[CAST(i AS INT)]))) AS BIGINT),
                                       c.cluster) AS rk
    FROM kmq q CROSS JOIN kmc{t - 1} c)
  WHERE rk = 1
)""")
        if t <= KMEANS_ITERS:
            parts.append(f"""
kmm{t} AS MATERIALIZED (
  SELECT cluster, list(m ORDER BY dim) AS cv FROM (
    SELECT cluster, dim, (s - ((s % n) + n) % n) // n AS m FROM (
      SELECT cluster, u.i AS dim,
             CAST(sum(qvec[CAST(u.i AS INT)]) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS n
      FROM kma{t}, unnest(range(1, len(qvec) + 1)) AS u(i)
      GROUP BY 1, 2))
  GROUP BY 1
),
kmc{t} AS MATERIALIZED (
  SELECT c.cluster, COALESCE(m.cv, c.cv) AS cv
  FROM kmc{t - 1} c LEFT JOIN kmm{t} m USING (cluster)
)""")
    return ",".join(parts)


def kmeans_sql() -> str:
    """Twin of cluster.kmeans_assign: final assignment after the
    unrolled Lloyd rounds."""
    from openie_spark.datapipe.cluster import KMEANS_ITERS

    return (f"WITH {_kmeans_ctes()}\n"
            f"SELECT vec_id, CAST(cluster AS INT) AS cluster, dist_sq\n"
            f"FROM kma{KMEANS_ITERS + 1}")


def kmeans_stats_sql() -> str:
    """Twin of cluster.kmeans_stats: per-cluster size, integer
    inertia, majority label (ties to the LOWEST label, NULLS FIRST to
    match Spark's asc ordering)."""
    from openie_spark.datapipe.cluster import KMEANS_ITERS

    return f"""WITH {_kmeans_ctes()},
kmal AS (
  SELECT a.cluster, e.label, a.dist_sq
  FROM kma{KMEANS_ITERS + 1} a JOIN embeddings e ON a.vec_id = e.vec_id
),
kmpl AS (
  SELECT cluster, label,
         CAST(count(*) AS BIGINT) AS n_l,
         CAST(sum(dist_sq) AS BIGINT) AS in_l
  FROM kmal GROUP BY 1, 2
),
kmrk AS (
  SELECT *, row_number() OVER (PARTITION BY cluster
                               ORDER BY n_l DESC, label ASC NULLS FIRST) AS rk
  FROM kmpl
)
SELECT CAST(cluster AS INT) AS cluster,
       CAST(sum(n_l) AS BIGINT) AS n_vecs,
       CAST(sum(in_l) AS BIGINT) AS inertia,
       max(CASE WHEN rk = 1 THEN label END) AS majority_label,
       CAST(max(CASE WHEN rk = 1 THEN n_l END) AS BIGINT) AS n_majority
FROM kmrk GROUP BY 1"""


def hash_embed_sql() -> str:
    """Twin of cluster.hash_doc_vectors: md5 bucket + independent md5
    sign per token, signed counts, zero buckets omitted."""
    from openie_spark.datapipe.cluster import HASH_EMBED_DIM, HASH_EMBED_SALT

    b = _md5h60(f"'{HASH_EMBED_SALT}#' || tok")
    sg = _md5h60(f"'{HASH_EMBED_SALT}s#' || tok")
    return f"""WITH het AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
  FROM documents
),
hes AS (
  SELECT doc_id,
         CAST({b} % {HASH_EMBED_DIM} AS INT) AS dim_idx,
         CASE WHEN {sg} % 2 = 0 THEN CAST(1 AS BIGINT)
              ELSE CAST(-1 AS BIGINT) END AS sgn
  FROM het
)
SELECT doc_id, dim_idx, CAST(sum(sgn) AS BIGINT) AS val
FROM hes GROUP BY 1, 2 HAVING sum(sgn) <> 0"""


def semdedup_sql() -> str:
    """Twin of cluster.semdedup_pairs: within-bucket close pairs over
    the final unrolled assignment, keep = the member nearer its
    centroid (ties to the lower vec_id)."""
    from openie_spark.datapipe.cluster import KMEANS_ITERS, SEMDEDUP_EPS_SQ

    t = KMEANS_ITERS + 1
    return (f"WITH {_kmeans_ctes()}\n"
            f"""SELECT cluster, keep_id, drop_id, pair_dist_sq FROM (
  SELECT CAST(a.cluster AS INT) AS cluster,
         CASE WHEN (a.dist_sq, a.vec_id) < (b.dist_sq, b.vec_id)
              THEN a.vec_id ELSE b.vec_id END AS keep_id,
         CASE WHEN (a.dist_sq, a.vec_id) < (b.dist_sq, b.vec_id)
              THEN b.vec_id ELSE a.vec_id END AS drop_id,
         CAST(list_sum(list_transform(range(1, len(a.qvec) + 1),
              i -> (a.qvec[CAST(i AS INT)] - b.qvec[CAST(i AS INT)])
                 * (a.qvec[CAST(i AS INT)] - b.qvec[CAST(i AS INT)])))
           AS BIGINT) AS pair_dist_sq
  FROM kma{t} a JOIN kma{t} b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id)
WHERE pair_dist_sq <= {SEMDEDUP_EPS_SQ}""")


def cluster_diverse_sample_sql() -> str:
    """Twin of cluster.cluster_diverse_sample: md5-ticket row_number
    inside each final k-means bucket, capped per cluster."""
    from openie_spark.datapipe.cluster import (
        DIVERSE_PER_CLUSTER,
        DIVERSE_SALT,
        KMEANS_ITERS,
    )

    t = _md5h60(f"'{DIVERSE_SALT}#' || CAST(vec_id AS VARCHAR)")
    return (f"WITH {_kmeans_ctes()}\n"
            f"""SELECT vec_id, CAST(cluster AS INT) AS cluster, rank FROM (
  SELECT vec_id, cluster,
         CAST(row_number() OVER (PARTITION BY cluster
                                 ORDER BY {t}, vec_id) AS INT) AS rank
  FROM kma{KMEANS_ITERS + 1})
WHERE rank <= {DIVERSE_PER_CLUSTER}""")
