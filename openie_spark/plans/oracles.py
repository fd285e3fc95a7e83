"""DuckDB oracle SQL for the driver's correctness gate.

Each builder returns ANSI SQL (DuckDB dialect) that recomputes a
pipeline stage from the pre-registered parquet views (documents, …)
using ONLY window functions / standard SQL — an independent
re-implementation of the engine semantics, not a translation of the
Spark plan. The window-function formulation is the closed form of the
array-aggregate segmentation (see functions/arrays.py docstrings).

NOTE: the oracle exploits a rule-backend property: P-I only ever
follows another P word, so seqie spans (models/seqie.py:58-72) reduce
to contiguous maximal runs of lexicon words — a gaps-and-islands
query. The general (neural-tag) span semantics are unit-tested in
tests/test_spans.py instead.
"""

from __future__ import annotations

from openie_spark.config import MAX_SENT_WORDS, PRED_LEXICON, SENT_PUNCT
from openie_spark.sources.transcripts import TRANSCRIPTS_CTE_DUCKDB


def _md5h60(x: str) -> str:
    """DuckDB twin of functions.hashing.md5h60."""
    return f"CAST(concat('0x', substr(md5({x}), 1, 15)) AS BIGINT)"


_LEX = ", ".join(f"'{w}'" for w in PRED_LEXICON)
_PUNCT = ", ".join(f"'{p}'" for p in SENT_PUNCT)

# words → (pos, word) with sentence assignment: punctuation segments
# (boundary after a terminal-punct token) chunked every MAX_SENT_WORDS.
_SENT_IDS_CTES = f"""
toks AS (
  SELECT conv_id, turn_idx, u.i - 1 AS pos, u.x AS word
  FROM (
    SELECT conv_id, turn_idx,
           unnest(list_transform(list_filter(string_split(text, ' '), x -> x <> ''),
                                 (x, i) -> struct_pack(x := x, i := i))) AS u
    FROM transcripts
  )
),
segged AS (
  SELECT conv_id, turn_idx, pos, word,
         COALESCE(SUM(CASE WHEN prev_word IN ({_PUNCT}) THEN 1 ELSE 0 END)
                  OVER (PARTITION BY conv_id, turn_idx ORDER BY pos), 0) AS punct_seg
  FROM (
    SELECT *, lag(word) OVER (PARTITION BY conv_id, turn_idx ORDER BY pos) AS prev_word
    FROM toks
  )
),
chunked AS (
  SELECT *, (ROW_NUMBER() OVER (PARTITION BY conv_id, turn_idx, punct_seg ORDER BY pos) - 1)
            // {MAX_SENT_WORDS} AS chunk
  FROM segged
),
sent_ids AS (
  SELECT conv_id, turn_idx, pos, word,
         CAST(DENSE_RANK() OVER (PARTITION BY conv_id, turn_idx ORDER BY punct_seg, chunk) - 1 AS INT) AS sent_idx,
         ROW_NUMBER() OVER (PARTITION BY conv_id, turn_idx, punct_seg, chunk ORDER BY pos) - 1 AS wpos
  FROM chunked
)"""

_SENTENCES_CTE = """
sentences AS (
  SELECT conv_id, turn_idx, sent_idx,
         string_agg(word, ' ' ORDER BY wpos) AS sent,
         CAST(count(*) AS INT) AS n_words
  FROM sent_ids GROUP BY 1, 2, 3
)"""

# gaps-and-islands over the lexicon flag → contiguous predicate runs.
_SPANS_CTES = f"""
flagged AS (
  SELECT *, word IN ({_LEX}) AS is_pred,
         lag(word IN ({_LEX})) OVER (PARTITION BY conv_id, turn_idx, sent_idx ORDER BY wpos) AS prev_pred
  FROM sent_ids
),
runs AS (
  SELECT *, SUM(CASE WHEN is_pred AND NOT COALESCE(prev_pred, FALSE) THEN 1 ELSE 0 END)
            OVER (PARTITION BY conv_id, turn_idx, sent_idx ORDER BY wpos) AS run_id
  FROM flagged
),
spans AS (
  SELECT conv_id, turn_idx, sent_idx, CAST(run_id - 1 AS INT) AS ext_idx,
         min(wpos) AS l, max(wpos) AS r
  FROM runs WHERE is_pred GROUP BY 1, 2, 3, 4
)"""

_TRIPLES_CTES = f"""
assembled AS (
  SELECT s.conv_id, s.turn_idx, s.sent_idx, s.ext_idx,
         string_agg(CASE WHEN t.wpos BETWEEN s.l AND s.r THEN t.word END, ' ' ORDER BY t.wpos) AS pred_raw,
         string_agg(CASE WHEN t.wpos < s.l AND t.word NOT IN ({_PUNCT}) THEN t.word END, ' ' ORDER BY t.wpos) AS a0,
         string_agg(CASE WHEN t.wpos > s.r AND t.word NOT IN ({_PUNCT}) THEN t.word END, ' ' ORDER BY t.wpos) AS a1
  FROM spans s JOIN sent_ids t USING (conv_id, turn_idx, sent_idx)
  GROUP BY 1, 2, 3, 4
),
triples AS (
  SELECT a.conv_id, a.turn_idx, a.sent_idx, a.ext_idx, n.sent,
         COALESCE(pred_raw, ' ') AS pred,
         COALESCE(a0, a1, '') AS subj,
         CASE WHEN a0 IS NOT NULL THEN COALESCE(a1, '') ELSE '' END AS obj,
         CAST(1.0 AS DOUBLE) AS confidence
  FROM assembled a JOIN sentences n USING (conv_id, turn_idx, sent_idx)
)"""


def _with(*ctes: str, select: str) -> str:
    return "WITH " + ",".join(ctes) + "\n" + select


def transcripts_sql() -> str:
    return _with(TRANSCRIPTS_CTE_DUCKDB, select="SELECT * FROM transcripts")


def sentences_sql() -> str:
    return _with(
        TRANSCRIPTS_CTE_DUCKDB, _SENT_IDS_CTES, _SENTENCES_CTE,
        select="SELECT conv_id, turn_idx, sent_idx, sent, n_words FROM sentences",
    )


def triples_sql() -> str:
    return _with(
        TRANSCRIPTS_CTE_DUCKDB, _SENT_IDS_CTES, _SENTENCES_CTE, _SPANS_CTES, _TRIPLES_CTES,
        select="SELECT conv_id, turn_idx, sent_idx, ext_idx, sent, pred, subj, obj, confidence FROM triples",
    )


def spans_sql() -> str:
    return _with(
        TRANSCRIPTS_CTE_DUCKDB, _SENT_IDS_CTES, _SPANS_CTES,
        select="SELECT conv_id, turn_idx, sent_idx, ext_idx, CAST(l AS INT) AS span_l, CAST(r AS INT) AS span_r FROM spans",
    )


# ------------------------------------------------------------- KG (F-H)

def _kg_ctes() -> str:
    """Mentions → vocab → blocked exact-Jaccard pairs → recursive-CTE
    connected components → nodes/edges — the independent SQL
    re-implementation of openie_spark.kg.*."""
    from openie_spark.config import (
        LINK_JACCARD,
        MAX_BLOCK,
        MAX_MENTION_TOKENS,
        STOP_MENTIONS,
    )
    from openie_spark.kg.linking import BLOCK_PREFIX

    stops = ", ".join(f"'{s}'" for s in STOP_MENTIONS)
    norm = ("trim(regexp_replace(regexp_replace(lower({c}), '[^a-z0-9 ]', '', 'g'),"
            " '\\s+', ' ', 'g'))")
    return f"""
mentions_all AS (
  SELECT conv_id, turn_idx, sent_idx, ext_idx, side, mention,
         {norm.format(c='mention')} AS norm
  FROM (
    SELECT conv_id, turn_idx, sent_idx, ext_idx, 'subj' AS side, subj AS mention FROM triples
    UNION ALL
    SELECT conv_id, turn_idx, sent_idx, ext_idx, 'obj' AS side, obj AS mention FROM triples
  )
),
mentions AS MATERIALIZED (
  SELECT * FROM mentions_all WHERE norm <> '' AND norm NOT IN ({stops})
),
vocab AS MATERIALIZED (
  SELECT norm, count(*) AS freq,
         list_distinct(string_split(norm, ' ')) AS tokens
  FROM mentions GROUP BY norm
),
exploded AS (
  SELECT u.bk AS bkey, norm, tokens
  FROM (SELECT * FROM vocab WHERE len(tokens) <= {MAX_MENTION_TOKENS}) vocab,
       unnest(list_distinct([
      'f|' || substr(string_split(norm, ' ')[1], 1, {BLOCK_PREFIX}),
      'l|' || substr(string_split(norm, ' ')[-1], 1, {BLOCK_PREFIX})])) AS u(bk)
),
blocked AS (
  SELECT * FROM exploded
  WHERE bkey NOT IN (SELECT bkey FROM exploded GROUP BY bkey HAVING count(*) > {MAX_BLOCK})
),
pairs AS MATERIALIZED (
  SELECT DISTINCT l.norm AS a, r.norm AS b,
         CAST(len(list_intersect(l.tokens, r.tokens)) AS DOUBLE)
           / (len(l.tokens) + len(r.tokens) - len(list_intersect(l.tokens, r.tokens))) AS jaccard
  FROM blocked l JOIN blocked r ON l.bkey = r.bkey AND l.norm < r.norm
  WHERE CAST(len(list_intersect(l.tokens, r.tokens)) AS DOUBLE)
          / (len(l.tokens) + len(r.tokens) - len(list_intersect(l.tokens, r.tokens))) >= {LINK_JACCARD}
),
edges_u AS MATERIALIZED (
  SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs
),
closure AS (
  SELECT src, dst FROM edges_u
  UNION SELECT src, src FROM edges_u
  UNION SELECT c.src, e.dst FROM closure c JOIN edges_u e ON c.dst = e.src
),
components AS MATERIALIZED (
  SELECT src AS norm, min(dst) AS component FROM closure GROUP BY src
),
canonmap AS MATERIALIZED (
  SELECT v.norm, v.freq, COALESCE(c.component, v.norm) AS component
  FROM vocab v LEFT JOIN components c USING (norm)
),
nodes AS MATERIALIZED (
  SELECT md5(component) AS entity_id, component AS canonical,
         count(*) AS n_aliases, CAST(sum(freq) AS BIGINT) AS freq
  FROM canonmap GROUP BY component
),
tr_norm AS (
  SELECT conv_id, turn_idx, sent_idx, ext_idx, pred,
         {norm.format(c='subj')} AS subj_norm, {norm.format(c='obj')} AS obj_norm
  FROM triples
),
kg_edges AS MATERIALIZED (
  SELECT md5(m1.component) AS src_id, md5(m2.component) AS dst_id, t.pred,
         t.conv_id, t.turn_idx, t.sent_idx, t.ext_idx
  FROM tr_norm t
  JOIN canonmap m1 ON t.subj_norm = m1.norm
  JOIN canonmap m2 ON t.obj_norm = m2.norm
  WHERE t.subj_norm <> '' AND t.subj_norm NOT IN ({stops})
    AND t.obj_norm <> '' AND t.obj_norm NOT IN ({stops})
)"""


_KG_RECURSIVE_PREFIX = "WITH RECURSIVE "


def _with_kg(select: str, extra_ctes: str = "") -> str:
    body = ",".join([
        TRANSCRIPTS_CTE_DUCKDB, _SENT_IDS_CTES, _SENTENCES_CTE,
        _SPANS_CTES, _TRIPLES_CTES, _kg_ctes(),
    ] + ([extra_ctes] if extra_ctes else []))
    return _KG_RECURSIVE_PREFIX + body + "\n" + select


def kg_mentions_sql() -> str:
    return _with_kg(
        "SELECT conv_id, turn_idx, sent_idx, ext_idx, side, mention, norm FROM mentions")


def kg_pairs_sql() -> str:
    return _with_kg("SELECT a, b, round(jaccard, 6) AS jaccard FROM pairs")


def _minhash_ctes() -> str:
    """Minhash-LSH pair path as CTEs ending in ``mh_pairs(a, b,
    jaccard)``: char-3-shingles of each linkable vocab norm → md5h60
    minhash slots → md5h60 band hashes → band-bucket self-join → exact
    token-Jaccard verification. Mirrors kg/linking.py minhash_pairs
    (md5-derived hashes exist exactly so this oracle is possible).
    Shared by kg_pairs_minhash_sql and kg_linking_eval_sql."""
    from openie_spark.config import (
        LINK_JACCARD,
        LSH_BANDS,
        LSH_ROWS,
        MAX_MENTION_TOKENS,
    )

    shingles = ("list_distinct(list_transform("
                "range(1, greatest(length(norm) - 2, 1) + 1),"
                " i -> substr(norm, CAST(i AS INT), 3)))")
    slots = ", ".join(
        "list_min(list_transform(shingles, s -> "
        + _md5h60(f"s || '#{k}'") + "))"
        for k in range(LSH_BANDS * LSH_ROWS)
    )
    band_exprs = ", ".join(
        _md5h60("concat_ws(','," + ", ".join(
            f"CAST(sig[{b * LSH_ROWS + r + 1}] AS VARCHAR)" for r in range(LSH_ROWS)
        ) + ")")
        for b in range(LSH_BANDS)
    )
    jac = ("CAST(len(list_intersect(va.tokens, vb.tokens)) AS DOUBLE)"
           " / (len(va.tokens) + len(vb.tokens)"
           " - len(list_intersect(va.tokens, vb.tokens)))")
    return f"""
mh_sigs AS (
  SELECT norm, [{slots}] AS sig
  FROM (SELECT norm, {shingles} AS shingles
        FROM vocab WHERE len(tokens) <= {MAX_MENTION_TOKENS})
),
mh_banded AS MATERIALIZED (
  SELECT norm, b AS band_idx, list_extract([{band_exprs}], b + 1) AS band_hash
  FROM mh_sigs, range(0, {LSH_BANDS}) t(b)
),
mh_pairs AS MATERIALIZED (
  SELECT a, b, jaccard FROM (
    SELECT c.a, c.b, {jac} AS jaccard
    FROM (
      SELECT DISTINCT l.norm AS a, r.norm AS b
      FROM mh_banded l JOIN mh_banded r
        ON l.band_idx = r.band_idx AND l.band_hash = r.band_hash AND l.norm < r.norm
    ) c JOIN vocab va ON c.a = va.norm JOIN vocab vb ON c.b = vb.norm
  ) WHERE jaccard >= {LINK_JACCARD}
)"""


def kg_pairs_minhash_sql() -> str:
    """Minhash-LSH pair path, fully recomputed (see _minhash_ctes)."""
    return _with_kg(
        "SELECT a, b, round(jaccard, 6) AS jaccard FROM mh_pairs",
        extra_ctes=_minhash_ctes())


def kg_pairs_editdist_sql() -> str:
    """Twin of kg.linking.editdist_pairs: the same blocked self-join
    verified by plain Levenshtein (Spark's threshold variant returns
    the identical distance for every pair within the bound)."""
    from openie_spark.kg.linking import LINK_MAX_ED

    return _with_kg(f"""
SELECT DISTINCT l.norm AS a, r.norm AS b,
       CAST(levenshtein(l.norm, r.norm) AS INT) AS dist
FROM blocked l JOIN blocked r ON l.bkey = r.bkey AND l.norm < r.norm
WHERE levenshtein(l.norm, r.norm) <= {LINK_MAX_ED}""")


def kg_components_sql() -> str:
    return _with_kg("SELECT norm, CAST(freq AS BIGINT) AS freq, component FROM canonmap")


def kg_nodes_sql() -> str:
    return _with_kg(
        "SELECT entity_id, canonical, n_aliases, freq FROM nodes")


def kg_edges_sql() -> str:
    return _with_kg(
        "SELECT src_id, dst_id, pred, conv_id, turn_idx, sent_idx, ext_idx FROM kg_edges")


def kg_degree_sql() -> str:
    return _with_kg("""
SELECT entity_id,
       CAST(COALESCE(o.out_deg, 0) AS BIGINT) AS out_deg,
       CAST(COALESCE(i.in_deg, 0) AS BIGINT) AS in_deg
FROM (SELECT src_id AS entity_id, count(*) AS out_deg FROM kg_edges GROUP BY 1) o
FULL JOIN (SELECT dst_id AS entity_id, count(*) AS in_deg FROM kg_edges GROUP BY 1) i
USING (entity_id)""")


def carb_self_sql() -> str:
    """CaRB self-comparison oracle. Scoring a triples table against
    itself yields P=R=F1=1 exactly: the greedy precision matcher always
    finds the identity pairing first in row-major order (strict-> scan,
    /root/reference/eval/oie_eval/carb.py:137-150) and every
    self-match is [1,1] (non-empty predicates on the rule path). The
    only data-dependent output is the gold-sentence count — distinct
    E1-normalized sentence keys (carb.py:263-289)."""
    import string

    punct = string.punctuation.replace("'", "''")
    norm = "translate(replace(replace(replace(replace(replace(replace(replace(sent, ' ', ''), '-LRB-','('),'-RRB-',')'),'-LSB-','['),'-RSB-',']'),'-LCB-','{'),'-RCB-','}')" \
           f", '{punct}', '')"
    return _with(
        TRANSCRIPTS_CTE_DUCKDB, _SENT_IDS_CTES, _SENTENCES_CTE, _SPANS_CTES, _TRIPLES_CTES,
        select=f"""
SELECT CAST(1.0 AS DOUBLE) AS precision, CAST(1.0 AS DOUBLE) AS recall,
       CAST(1.0 AS DOUBLE) AS f1, CAST(1.0 AS DOUBLE) AS auc,
       count(DISTINCT {norm}) AS n_gold_sents
FROM triples""",
    )


def turn_invariant_sql() -> str:
    """Per-turn text reconstruction: count of turns whose re-joined
    sentence words differ from the original tokenized text (must be 0
    everywhere — the per-row invariant from BASELINE.json input_hint)."""
    return _with(
        TRANSCRIPTS_CTE_DUCKDB, _SENT_IDS_CTES, _SENTENCES_CTE,
        select=f"""
SELECT CAST(count(*) AS BIGINT) AS n_turns,
       CAST(sum(CASE WHEN reconstructed <> orig THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch
FROM (
  SELECT s.conv_id, s.turn_idx,
         string_agg(s.sent, ' ' ORDER BY s.sent_idx) AS reconstructed,
         any_value(array_to_string(list_filter(string_split(t.text, ' '), x -> x <> ''), ' ')) AS orig
  FROM sentences s JOIN transcripts t USING (conv_id, turn_idx)
  GROUP BY 1, 2
)""",
    )


def kg_relations_sql() -> str:
    """Twin of kg.analytics.relation_weights."""
    return _with_kg("""
SELECT src_id, dst_id, pred,
       CAST(count(*) AS BIGINT) AS n_mentions,
       CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs
FROM kg_edges GROUP BY 1, 2, 3""")


def kg_temporal_sql() -> str:
    """Twin of kg.analytics.temporal_relations: provenance edges
    joined to the (conv_id, turn_idx)-keyed turn timestamps, validity
    interval as epoch-microsecond BIGINTs."""
    return _with_kg("""
SELECT e.src_id, e.dst_id, e.pred,
       CAST(count(*) AS BIGINT) AS n_mentions,
       CAST(count(DISTINCT e.conv_id) AS BIGINT) AS n_convs,
       CAST(min(epoch_us(t.ts)) AS BIGINT) AS first_us,
       CAST(max(epoch_us(t.ts)) AS BIGINT) AS last_us
FROM kg_edges e
JOIN transcripts t ON e.conv_id = t.conv_id AND e.turn_idx = t.turn_idx
GROUP BY 1, 2, 3""")


def kg_export_nt_sql() -> str:
    """Twin of kg.analytics.export_ntriples (node labels + distinct
    relations as N-Triples lines)."""
    return _with_kg("""
SELECT '<urn:kg:ent:' || entity_id || '> <urn:kg:label> "' || canonical || '" .' AS nt
FROM nodes
UNION ALL
SELECT '<urn:kg:ent:' || src_id || '> <urn:kg:rel:' || replace(pred, ' ', '_')
       || '> <urn:kg:ent:' || dst_id || '> .' AS nt
FROM (SELECT DISTINCT src_id, dst_id, pred FROM kg_edges)""")


def kg_comention_sql() -> str:
    """Twin of kg.analytics.comention_pairs (per-conv entity dedup,
    keep-lowest-entity_id cap, undirected pair counts)."""
    from openie_spark.kg.analytics import COMENTION_CAP

    return _with_kg("""
SELECT a, b, CAST(count(*) AS BIGINT) AS n_convs FROM (
  SELECT l.conv_id, l.e AS a, r.e AS b
  FROM capped l JOIN capped r ON l.conv_id = r.conv_id AND l.e < r.e
) GROUP BY 1, 2""", extra_ctes=f"""
coment_ents AS (
  SELECT DISTINCT conv_id, e FROM (
    SELECT conv_id, src_id AS e FROM kg_edges
    UNION ALL SELECT conv_id, dst_id AS e FROM kg_edges)
),
capped AS MATERIALIZED (
  SELECT conv_id, e FROM (
    SELECT conv_id, e,
           row_number() OVER (PARTITION BY conv_id ORDER BY e) AS r
    FROM coment_ents)
  WHERE r <= {COMENTION_CAP}
)""")


def kg_neighbor_jaccard_sql() -> str:
    """Twin of kg.analytics.neighbor_jaccard (capped pivot adjacency,
    shared-neighbor counts, exact integer-ppm Jaccard)."""
    from openie_spark.kg.analytics import NJ_CAP, NJ_MIN_COMMON

    return _with_kg(f"""
SELECT a, b, n_common, da.deg AS deg_a, db.deg AS deg_b,
       (2 * n_common * 1000000 + (da.deg + db.deg - n_common))
         // (2 * (da.deg + db.deg - n_common)) AS jaccard_ppm
FROM nj_inter
JOIN nj_deg da ON nj_inter.a = da.v
JOIN nj_deg db ON nj_inter.b = db.v""", extra_ctes=f"""
nj_und AS (
  SELECT DISTINCT least(src_id, dst_id) AS ua, greatest(src_id, dst_id) AS ub
  FROM kg_edges WHERE src_id <> dst_id
),
nj_adj AS MATERIALIZED (
  SELECT ua AS v, ub AS n FROM nj_und UNION ALL SELECT ub, ua FROM nj_und
),
nj_deg AS MATERIALIZED (
  SELECT v, CAST(count(*) AS BIGINT) AS deg FROM nj_adj GROUP BY v
),
nj_capped AS MATERIALIZED (
  SELECT v, n FROM (
    SELECT v, n, row_number() OVER (PARTITION BY v ORDER BY n) AS r
    FROM nj_adj)
  WHERE r <= {NJ_CAP}
),
nj_inter AS MATERIALIZED (
  SELECT l.n AS a, r.n AS b, CAST(count(*) AS BIGINT) AS n_common
  FROM nj_capped l JOIN nj_capped r ON l.v = r.v AND l.n < r.n
  GROUP BY 1, 2 HAVING count(*) >= {NJ_MIN_COMMON}
)""")


def kg_linkpred_ra_sql() -> str:
    """Twin of kg.analytics.resource_allocation: capped pivot
    adjacency, per-pivot floor(1e6/deg) weights summed as BIGINT,
    NON-adjacent pairs only (NOT EXISTS against the undirected edge
    set)."""
    from openie_spark.kg.analytics import NJ_CAP, RA_MIN_COMMON

    return _with_kg(f"""
SELECT a, b, n_common, ra_ppm
FROM ra_pairs p
WHERE NOT EXISTS (SELECT 1 FROM ra_und u WHERE u.ua = p.a AND u.ub = p.b)""",
                    extra_ctes=f"""
ra_und AS (
  SELECT DISTINCT least(src_id, dst_id) AS ua, greatest(src_id, dst_id) AS ub
  FROM kg_edges WHERE src_id <> dst_id
),
ra_adj AS MATERIALIZED (
  SELECT ua AS v, ub AS n FROM ra_und UNION ALL SELECT ub, ua FROM ra_und
),
ra_deg AS MATERIALIZED (
  SELECT v, CAST(count(*) AS BIGINT) AS deg FROM ra_adj GROUP BY v
),
ra_capped AS MATERIALIZED (
  SELECT c.v, c.n, CAST(1000000 // d.deg AS BIGINT) AS w_ppm
  FROM (
    SELECT v, n FROM (
      SELECT v, n, row_number() OVER (PARTITION BY v ORDER BY n) AS r
      FROM ra_adj)
    WHERE r <= {NJ_CAP}) c
  JOIN ra_deg d ON c.v = d.v
),
ra_pairs AS MATERIALIZED (
  SELECT l.n AS a, r.n AS b, CAST(count(*) AS BIGINT) AS n_common,
         CAST(sum(l.w_ppm) AS BIGINT) AS ra_ppm
  FROM ra_capped l JOIN ra_capped r ON l.v = r.v AND l.n < r.n
  GROUP BY 1, 2 HAVING count(*) >= {RA_MIN_COMMON}
)""")


def kg_negatives_sql() -> str:
    """Twin of kg.analytics.negative_samples (md5 hash-ring bucket →
    min-entity representative, broadcast pick, collision drop)."""
    from openie_spark.kg.analytics import NEG_BUCKETS, NEG_PER_POS, NEG_SALT

    ebucket = _md5h60(f"'{NEG_SALT}e#' || entity_id") + f" % {NEG_BUCKETS}"
    pbucket = (_md5h60(
        f"'{NEG_SALT}#' || CAST(neg_idx AS VARCHAR) || '#' || src_id"
          f" || '#' || pred || '#' || dst_id") + f" % {NEG_BUCKETS}")
    return _with_kg(f"""
SELECT p.src_id, p.pred, p.dst_id, r.neg_dst, CAST(p.neg_idx AS INT) AS neg_idx
FROM (
  SELECT src_id, pred, dst_id, neg_idx, {pbucket} AS bucket
  FROM (SELECT DISTINCT src_id, pred, dst_id FROM kg_edges),
       (SELECT unnest(range(0, {NEG_PER_POS})) AS neg_idx)
) p
JOIN (
  SELECT {ebucket} AS bucket, min(entity_id) AS neg_dst
  FROM nodes GROUP BY 1
) r ON p.bucket = r.bucket
WHERE r.neg_dst <> p.dst_id AND r.neg_dst <> p.src_id""")


def kg_pagerank_sql() -> str:
    """Twin of kg.analytics.pagerank: the same integer-exact
    recurrence unrolled to PAGERANK_ITERS CTEs (r0..rK). Integer floor
    division on positive BIGINTs makes DuckDB's // and Spark's DIV
    identical, and integer sums are order-independent — bit-for-bit
    parity without any float tolerance."""
    from openie_spark.kg.analytics import PAGERANK_ITERS, PAGERANK_SCALE

    base = (15 * PAGERANK_SCALE) // 100
    ctes = [f"""
simple_e AS MATERIALIZED (SELECT DISTINCT src_id, dst_id FROM kg_edges WHERE src_id <> dst_id),
outd AS MATERIALIZED (SELECT src_id, count(*) AS od FROM simple_e GROUP BY 1),
r0 AS (SELECT entity_id, CAST({PAGERANK_SCALE} AS BIGINT) AS rank FROM nodes)"""]
    for k in range(PAGERANK_ITERS):
        ctes.append(f"""
c{k + 1} AS (
  SELECT e.dst_id AS entity_id, sum(r.rank // o.od) AS s
  FROM simple_e e
  JOIN r{k} r ON e.src_id = r.entity_id
  JOIN outd o ON e.src_id = o.src_id
  GROUP BY 1),
r{k + 1} AS (
  SELECT n.entity_id,
         CAST({base} + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS rank
  FROM nodes n LEFT JOIN c{k + 1} c ON n.entity_id = c.entity_id)""")
    return _with_kg(
        f"SELECT entity_id, rank FROM r{PAGERANK_ITERS}",
        extra_ctes=",".join(ctes),
    )


def kg_integrity_sql() -> str:
    """Twin of kg.analytics.graph_integrity: six referential checks
    that must count zero on a healthy materialization."""
    return _with_kg(
        """
SELECT 'dangling_src' AS metric, CAST(count(*) AS BIGINT) AS value
FROM kg_edges e WHERE NOT EXISTS (SELECT 1 FROM nodes n WHERE n.entity_id = e.src_id)
UNION ALL
SELECT 'dangling_dst', CAST(count(*) AS BIGINT)
FROM kg_edges e WHERE NOT EXISTS (SELECT 1 FROM nodes n WHERE n.entity_id = e.dst_id)
UNION ALL
SELECT 'dup_entity_ids', CAST(count(*) AS BIGINT)
FROM (SELECT entity_id FROM nodes GROUP BY 1 HAVING count(*) > 1)
UNION ALL
SELECT 'self_loops', CAST(count(*) AS BIGINT)
FROM kg_edges WHERE src_id = dst_id
UNION ALL
SELECT 'empty_display', CAST(count(*) AS BIGINT)
FROM dsp WHERE display IS NULL OR trim(display) = ''
UNION ALL
SELECT 'dangling_display', CAST(count(*) AS BIGINT)
FROM dsp WHERE NOT EXISTS (SELECT 1 FROM nodes n WHERE n.entity_id = dsp.entity_id)""",
        extra_ctes="""
dsp AS MATERIALIZED (
  SELECT md5(component) AS entity_id, norm AS display
  FROM (
    SELECT component, norm,
           row_number() OVER (PARTITION BY component
                              ORDER BY freq DESC, length(norm), norm) AS r
    FROM canonmap) WHERE r = 1)""",
    )


def kg_ppr_sql() -> str:
    """Twin of kg.analytics.personalized_pagerank: the seed-teleport
    integer recurrence unrolled, seeds = khop's md5-ticket slice."""
    from openie_spark.kg.analytics import (
        KHOP_SALT, KHOP_SEED_MOD, PAGERANK_ITERS, PAGERANK_SCALE)

    base = (15 * PAGERANK_SCALE) // 100
    ticket = (f"CAST(concat('0x', substr(md5('{KHOP_SALT}#' || entity_id), "
              f"1, 15)) AS BIGINT)")
    ctes = [f"""
simple_e AS MATERIALIZED (SELECT DISTINCT src_id, dst_id FROM kg_edges WHERE src_id <> dst_id),
outd AS MATERIALIZED (SELECT src_id, count(*) AS od FROM simple_e GROUP BY 1),
sids AS MATERIALIZED (
  SELECT entity_id,
         CASE WHEN {ticket} % {KHOP_SEED_MOD} = 0 THEN 1 ELSE 0 END AS is_seed
  FROM nodes),
p0 AS (SELECT entity_id, is_seed,
              CAST(is_seed * {PAGERANK_SCALE} AS BIGINT) AS rank FROM sids)"""]
    for k in range(PAGERANK_ITERS):
        ctes.append(f"""
pc{k + 1} AS (
  SELECT e.dst_id AS entity_id, sum(r.rank // o.od) AS s
  FROM simple_e e
  JOIN p{k} r ON e.src_id = r.entity_id
  JOIN outd o ON e.src_id = o.src_id
  GROUP BY 1),
p{k + 1} AS (
  SELECT n.entity_id, n.is_seed,
         CAST(n.is_seed * {base} + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS rank
  FROM sids n LEFT JOIN pc{k + 1} c ON n.entity_id = c.entity_id)""")
    return _with_kg(
        f"SELECT entity_id, rank FROM p{PAGERANK_ITERS}",
        extra_ctes=",".join(ctes),
    )


def kg_triangles_sql() -> str:
    """Twin of kg.analytics.triangle_counts: same degree orientation
    ((deg, id) lexicographic), each triangle counted once as
    x->y, y->z, x->z and credited to all three corners."""
    return _with_kg(
        "SELECT n.entity_id, CAST(COALESCE(d.deg, 0) AS BIGINT) AS deg, "
        "CAST(COALESCE(p.n_tri, 0) AS BIGINT) AS n_tri "
        "FROM nodes n LEFT JOIN degs d ON n.entity_id = d.entity_id "
        "LEFT JOIN pern p ON n.entity_id = p.entity_id",
        extra_ctes="""
und AS MATERIALIZED (
  SELECT DISTINCT least(src_id, dst_id) AS a, greatest(src_id, dst_id) AS b
  FROM kg_edges WHERE src_id <> dst_id),
degs AS MATERIALIZED (
  SELECT entity_id, count(*) AS deg
  FROM (SELECT a AS entity_id FROM und UNION ALL SELECT b FROM und)
  GROUP BY 1),
ori AS MATERIALIZED (
  SELECT CASE WHEN (da.deg < db.deg) OR (da.deg = db.deg AND u.a < u.b)
              THEN u.a ELSE u.b END AS lo,
         CASE WHEN (da.deg < db.deg) OR (da.deg = db.deg AND u.a < u.b)
              THEN u.b ELSE u.a END AS hi
  FROM und u
  JOIN degs da ON u.a = da.entity_id
  JOIN degs db ON u.b = db.entity_id),
tris AS MATERIALIZED (
  SELECT e1.lo AS x, e1.hi AS y, e2.hi AS z
  FROM ori e1
  JOIN ori e2 ON e1.hi = e2.lo
  JOIN ori e3 ON e3.lo = e1.lo AND e3.hi = e2.hi),
pern AS (
  SELECT entity_id, count(*) AS n_tri
  FROM (SELECT x AS entity_id FROM tris
        UNION ALL SELECT y FROM tris
        UNION ALL SELECT z FROM tris)
  GROUP BY 1)""",
    )


def kg_khop_sql() -> str:
    """Twin of kg.analytics.khop_distances: min hop distance (0..K)
    from the md5-ticket seed slice, BFS unrolled level by level —
    d_j = neighbors(d_{j-1}) minus all earlier levels."""
    from openie_spark.kg.analytics import KHOP_K, KHOP_SALT, KHOP_SEED_MOD

    ticket = (f"CAST(concat('0x', substr(md5('{KHOP_SALT}#' || entity_id), "
              f"1, 15)) AS BIGINT)")
    lvl_ctes, lvl_selects = [], ["SELECT entity_id, 0 AS dist FROM d0"]
    prior = "SELECT entity_id FROM d0"
    for j in range(1, KHOP_K + 1):
        lvl_ctes.append(f"""
d{j} AS MATERIALIZED (
  SELECT DISTINCT s.b AS entity_id
  FROM d{j - 1} f JOIN sym s ON s.a = f.entity_id
  WHERE s.b NOT IN ({prior}))""")
        lvl_selects.append(f"SELECT entity_id, {j} AS dist FROM d{j}")
        prior += f" UNION ALL SELECT entity_id FROM d{j}"
    return _with_kg(
        "\nUNION ALL\n".join(lvl_selects),
        extra_ctes=f"""
und AS MATERIALIZED (
  SELECT DISTINCT least(src_id, dst_id) AS a, greatest(src_id, dst_id) AS b
  FROM kg_edges WHERE src_id <> dst_id),
sym AS MATERIALIZED (
  SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
d0 AS MATERIALIZED (
  SELECT entity_id FROM nodes WHERE {ticket} % {KHOP_SEED_MOD} = 0),"""
        + ",".join(lvl_ctes),
    )


def kg_statement_roles_sql() -> str:
    """Twin of kg.enrich.statement_role_provenance: (conv_id,
    turn_idx) role join, per-statement role counts, exact
    round-half-up tool-source ppm."""
    return _with_kg("""
SELECT e.src_id, e.pred, e.dst_id,
       CAST(count(*) AS BIGINT) AS n_mentions,
       CAST(sum(CASE WHEN t.role = 'user' THEN 1 ELSE 0 END) AS BIGINT) AS n_user,
       CAST(sum(CASE WHEN t.role = 'assistant' THEN 1 ELSE 0 END) AS BIGINT) AS n_assistant,
       CAST(sum(CASE WHEN t.role = 'system' THEN 1 ELSE 0 END) AS BIGINT) AS n_system,
       CAST(sum(CASE WHEN t.role = 'tool' THEN 1 ELSE 0 END) AS BIGINT) AS n_tool,
       CAST((2 * sum(CASE WHEN t.role = 'tool' THEN 1 ELSE 0 END) * 1000000
             + count(*)) // (2 * count(*)) AS BIGINT) AS tool_src_ppm
FROM kg_edges e
JOIN transcripts t ON e.conv_id = t.conv_id AND e.turn_idx = t.turn_idx
GROUP BY 1, 2, 3""")


def _labeled_bfs_parts() -> tuple[str, str]:
    """(extra_ctes, levels_union): the source-labeled khop BFS unroll
    shared by the harmonic and seed-distance twins — level j =
    distinct (src, neighbor) pairs of level j-1 not settled for that
    src. levels_union selects (src, entity_id, dist) for dist 1..K."""
    from openie_spark.kg.analytics import KHOP_K, KHOP_SALT, KHOP_SEED_MOD

    ticket = (f"CAST(concat('0x', substr(md5('{KHOP_SALT}#' || entity_id), "
              f"1, 15)) AS BIGINT)")
    lvl_ctes = [f"""
h0 AS MATERIALIZED (
  SELECT entity_id AS src, entity_id, 0 AS dist FROM nodes
  WHERE {ticket} % {KHOP_SEED_MOD} = 0),
hs0 AS MATERIALIZED (SELECT src, entity_id FROM h0)"""]
    lvl_selects = []
    for j in range(1, KHOP_K + 1):
        lvl_ctes.append(f"""
h{j} AS MATERIALIZED (
  SELECT DISTINCT f.src, s.b AS entity_id, {j} AS dist
  FROM h{j - 1} f JOIN sym s ON s.a = f.entity_id
  WHERE NOT EXISTS (SELECT 1 FROM hs{j - 1} p
                    WHERE p.src = f.src AND p.entity_id = s.b)),
hs{j} AS MATERIALIZED (
  SELECT src, entity_id FROM hs{j - 1}
  UNION ALL SELECT src, entity_id FROM h{j})""")
        lvl_selects.append(f"SELECT src, entity_id, dist FROM h{j}")
    extra = """
und AS MATERIALIZED (
  SELECT DISTINCT least(src_id, dst_id) AS a, greatest(src_id, dst_id) AS b
  FROM kg_edges WHERE src_id <> dst_id),
sym AS MATERIALIZED (
  SELECT a, b FROM und UNION ALL SELECT b, a FROM und),""" \
        + ",".join(lvl_ctes)
    union = "\nUNION ALL\n".join(lvl_selects)
    return extra, union


def kg_harmonic_sql() -> str:
    """Twin of kg.analytics.harmonic_centrality: the labeled khop BFS
    unroll (_labeled_bfs_parts) + a per-src round-half-up 1e6/d
    rollup."""
    extra, union = _labeled_bfs_parts()
    return _with_kg(
        f"""
SELECT src AS entity_id,
       CAST(count(*) AS BIGINT) AS n_reached,
       CAST(sum((2 * 1000000 + dist) // (2 * dist)) AS BIGINT)
         AS harmonic_ppm
FROM ({union})
GROUP BY 1""",
        extra_ctes=extra,
    )


def kg_seed_distances_sql() -> str:
    """Twin of kg.analytics.seed_pair_distances: the labeled BFS
    levels restricted to destinations that are themselves seeds (the
    same md5 ticket predicate, on the DESTINATION column)."""
    from openie_spark.kg.analytics import KHOP_SALT, KHOP_SEED_MOD

    dticket = (f"CAST(concat('0x', substr(md5('{KHOP_SALT}#' || dst), "
               f"1, 15)) AS BIGINT)")
    extra, union = _labeled_bfs_parts()
    return _with_kg(
        f"""
SELECT src, dst, dist FROM (
  SELECT src, entity_id AS dst, dist FROM ({union}))
WHERE {dticket} % {KHOP_SEED_MOD} = 0""",
        extra_ctes=extra,
    )


def kg_timeline_sql() -> str:
    """Twin of kg.analytics.entity_timeline: endpoint-union of the
    ts-joined provenance edges, one entity rollup."""
    return _with_kg(
        """
SELECT entity_id, count(*) AS n_mentions,
       count(DISTINCT conv_id) AS n_convs,
       min(ts_us) AS first_us, max(ts_us) AS last_us,
       count(DISTINCT ts_us // 86400000000) AS active_days
FROM (
  SELECT src_id AS entity_id, conv_id, ts_us FROM ej
  UNION ALL
  SELECT dst_id, conv_id, ts_us FROM ej)
GROUP BY 1""",
        extra_ctes="""
ej AS MATERIALIZED (
  SELECT e.src_id, e.dst_id, e.conv_id, epoch_us(t.ts) AS ts_us
  FROM kg_edges e
  JOIN transcripts t ON e.conv_id = t.conv_id AND e.turn_idx = t.turn_idx)""",
    )


def kg_reply_latency_sql() -> str:
    """Twin of kg.analytics.reply_latency: lag over the conv window,
    user->assistant adjacent transitions, integer-minute rollup."""
    return _with(
        TRANSCRIPTS_CTE_DUCKDB,
        """
l AS (
  SELECT conv_id, role,
         lag(role) OVER w AS prev_role,
         epoch_us(ts) // 60000000 AS em,
         lag(epoch_us(ts) // 60000000) OVER w AS prev_em
  FROM transcripts
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
)""",
        select="""
SELECT conv_id, count(*) AS n_replies,
       min(em - prev_em) AS min_latency_min,
       max(em - prev_em) AS max_latency_min,
       CAST(sum(em - prev_em) // count(*) AS BIGINT) AS avg_latency_min
FROM l WHERE role = 'assistant' AND prev_role = 'user'
GROUP BY 1""",
    )


def kg_yield_sql() -> str:
    """Twin of kg.analytics.extraction_yield: per-conversation turn /
    triple rollups joined on conv_id, exact-ppm rates."""
    return _with(
        TRANSCRIPTS_CTE_DUCKDB, _SENT_IDS_CTES, _SENTENCES_CTE,
        _SPANS_CTES, _TRIPLES_CTES,
        """
t AS (SELECT conv_id, count(*) AS n_turns FROM transcripts GROUP BY 1),
x AS (
  SELECT conv_id,
         count(DISTINCT turn_idx) AS n_turns_with_triples,
         count(DISTINCT (turn_idx, sent_idx)) AS n_sents_with_triples,
         count(*) AS n_triples
  FROM triples GROUP BY 1)""",
        select="""
SELECT t.conv_id, t.n_turns,
       COALESCE(x.n_turns_with_triples, 0) AS n_turns_with_triples,
       COALESCE(x.n_sents_with_triples, 0) AS n_sents_with_triples,
       COALESCE(x.n_triples, 0) AS n_triples,
       (2 * COALESCE(x.n_turns_with_triples, 0) * 1000000 + t.n_turns)
         // (2 * t.n_turns) AS coverage_ppm,
       (2 * COALESCE(x.n_triples, 0) * 1000000 + t.n_turns)
         // (2 * t.n_turns) AS triples_per_turn_ppm
FROM t LEFT JOIN x ON t.conv_id = x.conv_id""",
    )


def kg_edge_split_sql() -> str:
    """Twin of kg.analytics.edge_split: md5-ticket 8/1/1 split of the
    distinct statements plus the filtered-eval flag."""
    from openie_spark.kg.analytics import (
        SPLIT_MOD, SPLIT_SALT, SPLIT_TEST, SPLIT_VALID)

    ticket = ("CAST(concat('0x', substr(md5('"
              f"{SPLIT_SALT}' || '|' || src_id || '|' || pred || '|' || dst_id"
              "), 1, 15)) AS BIGINT)")
    return _with_kg(
        """
SELECT t.src_id, t.pred, t.dst_id, t.split,
       (t.split = 'train' OR (s.eid IS NOT NULL AND d.eid IS NOT NULL
                              AND p.pred IS NOT NULL)) AS eval_ok
FROM t
LEFT JOIN tents s ON t.src_id = s.eid
LEFT JOIN tents d ON t.dst_id = d.eid
LEFT JOIN tpreds p ON t.pred = p.pred""",
        extra_ctes=f"""
t AS MATERIALIZED (
  SELECT src_id, pred, dst_id,
         CASE {ticket} % {SPLIT_MOD}
           WHEN {SPLIT_TEST} THEN 'test'
           WHEN {SPLIT_VALID} THEN 'valid'
           ELSE 'train' END AS split
  FROM (SELECT DISTINCT src_id, pred, dst_id FROM kg_edges)),
tents AS MATERIALIZED (
  SELECT DISTINCT eid FROM (
    SELECT src_id AS eid FROM t WHERE split = 'train'
    UNION ALL SELECT dst_id FROM t WHERE split = 'train')),
tpreds AS MATERIALIZED (
  SELECT DISTINCT pred FROM t WHERE split = 'train')""",
    )


def dialogue_stats_sql() -> str:
    """Twin of kg.dialogue.dialogue_stats: same lag-flag run ids, run
    rollup, and per-conversation aggregate in integer arithmetic."""
    return _with(
        TRANSCRIPTS_CTE_DUCKDB,
        """
t0 AS (
  SELECT conv_id, turn_idx, role, tool, length(text) AS n_chars,
         epoch_us(ts) // 60000000 AS em,
         CASE WHEN COALESCE(lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx),
                            chr(1)) <> role THEN 1 ELSE 0 END AS new_run
  FROM transcripts
),
t1 AS (
  SELECT *, sum(new_run) OVER (PARTITION BY conv_id ORDER BY turn_idx
                               ROWS UNBOUNDED PRECEDING) AS run_id
  FROM t0
),
runs AS (
  SELECT conv_id, run_id, count(*) AS run_len, min(role) AS role,
         sum(n_chars) AS chars, min(em) AS em_min, max(em) AS em_max,
         sum(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END) AS n_tool
  FROM t1 GROUP BY 1, 2
),
agg AS (
  SELECT conv_id,
         sum(run_len) AS n_turns,
         sum(CASE WHEN role = 'user' THEN run_len ELSE 0 END) AS n_user,
         sum(CASE WHEN role = 'assistant' THEN run_len ELSE 0 END) AS n_assistant,
         sum(n_tool) AS n_tool_turns,
         sum(CASE WHEN role = 'assistant' THEN chars ELSE 0 END) AS ac,
         sum(CASE WHEN role = 'user' THEN chars ELSE 0 END) AS uc,
         sum(chars) AS total_chars,
         max(em_max) - min(em_min) AS duration_min,
         max(run_len) AS longest_run
  FROM runs GROUP BY 1
)""",
        select="""
SELECT conv_id,
       CAST(n_turns AS BIGINT) AS n_turns,
       CAST(n_user AS BIGINT) AS n_user,
       CAST(n_assistant AS BIGINT) AS n_assistant,
       CAST(n_tool_turns AS BIGINT) AS n_tool_turns,
       CAST(total_chars AS BIGINT) AS total_chars,
       CAST(total_chars // n_turns AS BIGINT) AS avg_turn_chars,
       duration_min,
       CAST(CASE WHEN uc > 0 THEN (2 * ac * 1000000 + uc) // (2 * uc) END
            AS BIGINT) AS asst_user_char_ppm,
       longest_run
FROM agg""",
    )


def kg_lpa_sql() -> str:
    """Twin of kg.analytics.label_prop_communities: synchronous
    min-tie-break label propagation unrolled to LPA_ITERS rounds —
    each round a neighbor-label vote count + deterministic top-1
    (count DESC, label ASC), isolated nodes keeping their label."""
    from openie_spark.kg.analytics import LPA_ITERS

    ctes = ["""
und AS MATERIALIZED (
  SELECT DISTINCT least(src_id, dst_id) AS a, greatest(src_id, dst_id) AS b
  FROM kg_edges WHERE src_id <> dst_id),
sym AS MATERIALIZED (
  SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
l0 AS (SELECT entity_id, entity_id AS community FROM nodes)"""]
    for k in range(LPA_ITERS):
        ctes.append(f"""
v{k} AS (
  SELECT s.a AS entity_id, l.community AS nl, count(*) AS votes
  FROM sym s JOIN l{k} l ON s.b = l.entity_id
  GROUP BY 1, 2),
t{k} AS (
  SELECT entity_id, nl FROM (
    SELECT entity_id, nl,
           row_number() OVER (PARTITION BY entity_id
                              ORDER BY votes DESC, nl ASC) AS rn
    FROM v{k}) WHERE rn = 1),
l{k + 1} AS MATERIALIZED (
  SELECT l.entity_id, COALESCE(t.nl, l.community) AS community
  FROM l{k} l LEFT JOIN t{k} t ON l.entity_id = t.entity_id)""")
    return _with_kg(
        f"SELECT entity_id, community FROM l{LPA_ITERS}",
        extra_ctes=",".join(ctes),
    )


def kg_kcore_sql() -> str:
    """Twin of kg.analytics.kcore: the k-core peel unrolled to
    KCORE_MAX_ROUNDS rounds — each round keeps nodes whose degree
    within the surviving set is >= k. The Spark side fails loudly if
    the fixpoint needs more rounds, and peeling is monotone, so the
    extra unrolled rounds past convergence are exact no-ops."""
    from openie_spark.kg.analytics import KCORE_K, KCORE_MAX_ROUNDS

    ctes = [f"""
und AS MATERIALIZED (
  SELECT DISTINCT least(src_id, dst_id) AS a, greatest(src_id, dst_id) AS b
  FROM kg_edges WHERE src_id <> dst_id),
m0 AS MATERIALIZED (
  SELECT entity_id, count(*) AS core_degree FROM (
    SELECT a AS entity_id FROM und UNION ALL SELECT b FROM und)
  GROUP BY 1 HAVING count(*) >= {KCORE_K})"""]
    for r in range(KCORE_MAX_ROUNDS):
        ctes.append(f"""
e{r} AS (
  SELECT u.a, u.b FROM und u
  WHERE u.a IN (SELECT entity_id FROM m{r})
    AND u.b IN (SELECT entity_id FROM m{r})),
m{r + 1} AS MATERIALIZED (
  SELECT entity_id, count(*) AS core_degree FROM (
    SELECT a AS entity_id FROM e{r} UNION ALL SELECT b FROM e{r})
  GROUP BY 1 HAVING count(*) >= {KCORE_K})""")
    return _with_kg(
        f"SELECT entity_id, core_degree FROM m{KCORE_MAX_ROUNDS}",
        extra_ctes=",".join(ctes),
    )


def kg_community_stats_sql() -> str:
    """Twin of kg.analytics.community_stats: LPA rounds (shared with
    kg_lpa_sql), labeled undirected edges, per-community rollups."""
    from openie_spark.kg.analytics import LPA_ITERS

    ctes = ["""
und AS MATERIALIZED (
  SELECT DISTINCT least(src_id, dst_id) AS a, greatest(src_id, dst_id) AS b
  FROM kg_edges WHERE src_id <> dst_id),
sym AS MATERIALIZED (
  SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
l0 AS (SELECT entity_id, entity_id AS community FROM nodes)"""]
    for k in range(LPA_ITERS):
        ctes.append(f"""
v{k} AS (
  SELECT s.a AS entity_id, l.community AS nl, count(*) AS votes
  FROM sym s JOIN l{k} l ON s.b = l.entity_id
  GROUP BY 1, 2),
t{k} AS (
  SELECT entity_id, nl FROM (
    SELECT entity_id, nl,
           row_number() OVER (PARTITION BY entity_id
                              ORDER BY votes DESC, nl ASC) AS rn
    FROM v{k}) WHERE rn = 1),
l{k + 1} AS MATERIALIZED (
  SELECT l.entity_id, COALESCE(t.nl, l.community) AS community
  FROM l{k} l LEFT JOIN t{k} t ON l.entity_id = t.entity_id)""")
    ctes.append(f"""
lab AS MATERIALIZED (SELECT entity_id, community FROM l{LPA_ITERS}),
labeled AS MATERIALIZED (
  SELECT la.community AS ca, lb.community AS cb
  FROM und u JOIN lab la ON u.a = la.entity_id
             JOIN lab lb ON u.b = lb.entity_id),
intra AS (
  SELECT ca AS community, count(*) AS intra_edges
  FROM labeled WHERE ca = cb GROUP BY 1),
cut AS (
  SELECT community, count(*) AS cut_edges FROM (
    SELECT ca AS community FROM labeled WHERE ca <> cb
    UNION ALL SELECT cb FROM labeled WHERE ca <> cb)
  GROUP BY 1),
dg AS (
  SELECT entity_id, count(*) AS deg FROM (
    SELECT a AS entity_id FROM und UNION ALL SELECT b FROM und)
  GROUP BY 1),
mem AS (
  SELECT l.community, count(*) AS n_members,
         sum(COALESCE(d.deg, 0)) AS degree_sum
  FROM lab l LEFT JOIN dg d ON l.entity_id = d.entity_id
  GROUP BY 1)""")
    return _with_kg(
        """
SELECT m.community, m.n_members,
       COALESCE(i.intra_edges, 0) AS intra_edges,
       COALESCE(c.cut_edges, 0) AS cut_edges,
       CAST(m.degree_sum AS BIGINT) AS degree_sum,
       CASE WHEN COALESCE(i.intra_edges, 0) + COALESCE(c.cut_edges, 0) > 0
            THEN (2 * COALESCE(i.intra_edges, 0) * 1000000
                  + (COALESCE(i.intra_edges, 0) + COALESCE(c.cut_edges, 0)))
                 // (2 * (COALESCE(i.intra_edges, 0) + COALESCE(c.cut_edges, 0)))
            ELSE 0 END AS intra_ppm
FROM mem m LEFT JOIN intra i ON m.community = i.community
           LEFT JOIN cut c ON m.community = c.community""",
        extra_ctes=",".join(ctes),
    )


def kg_summary_sql() -> str:
    """Twin of kg.analytics.graph_summary — same metric names, same
    exact-integer definitions."""
    return _with_kg(
        """SELECT 'n_nodes' AS metric, CAST(count(*) AS BIGINT) AS value FROM nodes
UNION ALL SELECT 'n_prov_edges', CAST(count(*) AS BIGINT) FROM kg_edges
UNION ALL SELECT 'n_simple_edges', CAST(count(*) AS BIGINT)
  FROM (SELECT DISTINCT src_id, dst_id FROM kg_edges WHERE src_id <> dst_id)
UNION ALL SELECT 'n_und_edges', CAST(count(*) AS BIGINT) FROM s_und
UNION ALL SELECT 'n_isolated', CAST(count(*) AS BIGINT)
  FROM nodes n WHERE n.entity_id NOT IN (SELECT entity_id FROM s_deg)
UNION ALL SELECT 'max_degree', CAST(coalesce(max(deg), 0) AS BIGINT) FROM s_deg
UNION ALL SELECT 'sum_degree', CAST(coalesce(sum(deg), 0) AS BIGINT) FROM s_deg""",
        extra_ctes="""
s_und AS MATERIALIZED (
  SELECT DISTINCT least(src_id, dst_id) AS a, greatest(src_id, dst_id) AS b
  FROM kg_edges WHERE src_id <> dst_id),
s_deg AS MATERIALIZED (
  SELECT entity_id, count(*) AS deg
  FROM (SELECT a AS entity_id FROM s_und UNION ALL SELECT b FROM s_und)
  GROUP BY 1)""",
    )


def kg_display_sql() -> str:
    """Twin of kg.graph.display_labels: per component the max-freq
    alias (ties: shorter, then lexicographically smaller norm)."""
    return _with_kg("""
SELECT md5(component) AS entity_id, component AS canonical,
       display, display_freq,
       CAST(n_aliases AS BIGINT) AS n_aliases, freq
FROM (
  SELECT component, count(*) AS n_aliases,
         CAST(sum(freq) AS BIGINT) AS freq
  FROM canonmap GROUP BY 1
) a JOIN (
  SELECT component, norm AS display, CAST(freq AS BIGINT) AS display_freq
  FROM (
    SELECT component, norm, freq,
           row_number() OVER (PARTITION BY component
                              ORDER BY freq DESC, length(norm), norm) AS r
    FROM canonmap
  ) WHERE r = 1
) b USING (component)""")


def _etype_case_duckdb(var: str) -> str:
    """DuckDB CASE ladder for one normalized label column from the
    shared typing constants (first match wins, same as
    kg.enrich.etype_col; an independent re-expression under RE2)."""
    from openie_spark.kg.enrich import (
        ORG_SUFFIXES, PERSON_PREFIXES, PLACE_SUFFIXES)

    def lst(ws):
        return "[" + ", ".join(f"'{w}'" for w in ws) + "]"

    return f"""CASE
    WHEN regexp_matches({var}, '^(1[0-9]{{3}}|2[0-9]{{3}})$') THEN 'year'
    WHEN regexp_matches({var}, '^[0-9]+$') THEN 'numeric'
    WHEN NOT contains({var}, ' ') AND regexp_matches({var}, '[0-9]')
         AND regexp_matches({var}, '[a-z]') THEN 'code'
    WHEN regexp_matches({var}, '^[0-9]+ ')
         AND regexp_matches(string_split({var}, ' ')[-1], '^[a-z]+$')
      THEN 'measure'
    WHEN list_contains({lst(PERSON_PREFIXES)}, string_split({var}, ' ')[1])
      THEN 'person'
    WHEN list_contains({lst(ORG_SUFFIXES)}, string_split({var}, ' ')[-1])
      THEN 'org'
    WHEN list_contains({lst(PLACE_SUFFIXES)}, string_split({var}, ' ')[-1])
      THEN 'place'
    WHEN contains({var}, ' ') THEN 'phrase'
    ELSE 'term'
  END"""


def kg_entity_types_sql() -> str:
    """Twin of kg.enrich.entity_types: the same rule ladder over the
    nodes table (word lists imported as shared constants)."""
    return _with_kg(f"""
SELECT entity_id, canonical,
  {_etype_case_duckdb('canonical')} AS etype,
  freq
FROM nodes""")


def _lemma_case_duckdb(var: str) -> str:
    """DuckDB CASE ladder for one token from the shared LEMMA_RULES
    constants (first match wins, same as kg.enrich.lemma_col)."""
    from openie_spark.kg.enrich import LEMMA_RULES

    branches = []
    for rx, strip, app in LEMMA_RULES:
        stem = f"substr({var}, 1, length({var}) - {strip})"
        if app:
            stem = f"{stem} || '{app}'"
        branches.append(f"WHEN regexp_matches({var}, '{rx}') THEN {stem}")
    return "CASE " + " ".join(branches) + f" ELSE {var} END"


def kg_relation_canon_sql() -> str:
    """Twin of kg.enrich.relation_canon: per-pred edge/conv counts,
    aux-drop-then-lemma key (aux-only predicates kept verbatim),
    sorted surface-form inventory per canonical relation."""
    from openie_spark.kg.enrich import AUX_TOKENS

    aux = "[" + ", ".join(f"'{w}'" for w in AUX_TOKENS) + "]"
    return _with_kg(f"""
SELECT rel_canon, CAST(count(*) AS INT) AS n_forms,
       array_to_string(list_sort(list(pred)), '|') AS forms,
       CAST(sum(n_edges) AS BIGINT) AS n_edges,
       CAST(sum(n_convs) AS BIGINT) AS n_convs_sum
FROM (
  SELECT pred, n_edges, n_convs,
         CASE WHEN len(content) > 0 THEN array_to_string(
                list_transform(content, t -> {_lemma_case_duckdb('t')}), ' ')
              ELSE array_to_string(toks, ' ') END AS rel_canon
  FROM (
    SELECT pred, n_edges, n_convs, toks,
           list_filter(toks, t -> NOT list_contains({aux}, t)) AS content
    FROM (
      SELECT pred, n_edges, n_convs,
             list_filter(string_split(pred, ' '), t -> t <> '') AS toks
      FROM per_pred
    )
  )
)
GROUP BY 1""",
        extra_ctes="""
per_pred AS MATERIALIZED (
  SELECT pred, CAST(count(*) AS BIGINT) AS n_edges,
         CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs
  FROM kg_edges GROUP BY 1)""",
    )


def kg_coref_sql() -> str:
    """Twin of kg.coref.resolve_pronouns: last prior entity mention in
    transcript order (turn, sentence, extraction, subj-before-obj) via
    last_value(... IGNORE NULLS) over the unfiltered mention stream."""
    from openie_spark.config import REF_FRAGMENTS

    frags = ", ".join(f"'{p}'" for p in REF_FRAGMENTS)
    return _with_kg(f"""
SELECT conv_id, turn_idx, sent_idx, ext_idx, side,
       norm AS pronoun, antecedent
FROM coref_stream
WHERE norm IN ({frags}) AND antecedent IS NOT NULL""",
        extra_ctes=_coref_stream_cte(),
    )


def kg_export_graphml_sql() -> str:
    """Twin of kg.analytics.export_graphml: literal header/footer rows
    plus node/edge XML fragments with md5h60 line keys."""
    return _with_kg(f"""
SELECT CAST(part AS INT) AS part, CAST(line AS BIGINT) AS line, xml FROM (
  SELECT * FROM (VALUES
    (0, 0, '<?xml version="1.0" encoding="UTF-8"?>'),
    (0, 1, '<graphml xmlns="http://graphml.graphdrawing.org/xmlns">'),
    (0, 2, '<key id="label" for="node" attr.name="label" attr.type="string"/>'),
    (0, 3, '<key id="pred" for="edge" attr.name="pred" attr.type="string"/>'),
    (0, 4, '<graph id="kg" edgedefault="directed">'),
    (3, 0, '</graph>'),
    (3, 1, '</graphml>')) t(part, line, xml)
  UNION ALL
  SELECT 1, {_md5h60('entity_id')},
         '<node id="' || entity_id || '"><data key="label">'
           || canonical || '</data></node>'
  FROM nodes
  UNION ALL
  SELECT 2, {_md5h60("src_id || '|' || pred || '|' || dst_id")},
         '<edge source="' || src_id || '" target="' || dst_id
           || '"><data key="pred">' || pred || '</data></edge>'
  FROM (SELECT DISTINCT src_id, dst_id, pred FROM kg_edges)
)""")


def kg_metapaths_sql() -> str:
    """Twin of kg.analytics.metapath_counts: canon-pred keys, capped
    in/out adjacency per middle node, typed 2-hop group counts,
    full-column-tie top-k."""
    from openie_spark.kg.analytics import MP_CAP, MP_TOP
    from openie_spark.kg.enrich import AUX_TOKENS

    aux = "[" + ", ".join(f"'{w}'" for w in AUX_TOKENS) + "]"
    return _with_kg(f"""
SELECT src_type, rel1, mid_type, rel2, dst_type,
       CAST(count(*) AS BIGINT) AS n_paths
FROM mp_typed
GROUP BY 1, 2, 3, 4, 5
ORDER BY n_paths DESC, src_type, rel1, mid_type, rel2, dst_type
LIMIT {MP_TOP}""", extra_ctes=f"""
mp_rkey AS (
  SELECT pred,
         CASE WHEN len(content) > 0 THEN array_to_string(
                list_transform(content, t -> {_lemma_case_duckdb('t')}), ' ')
              ELSE array_to_string(toks, ' ') END AS rel
  FROM (
    SELECT pred, toks,
           list_filter(toks, t -> NOT list_contains({aux}, t)) AS content
    FROM (
      SELECT pred, list_filter(string_split(pred, ' '), t -> t <> '') AS toks
      FROM (SELECT DISTINCT pred FROM kg_edges)
    )
  )
),
mp_rel AS MATERIALIZED (
  SELECT e.src_id, e.dst_id, r.rel
  FROM (SELECT DISTINCT src_id, dst_id, pred FROM kg_edges
        WHERE src_id <> dst_id) e
  JOIN mp_rkey r USING (pred)
),
mp_types AS MATERIALIZED (
  SELECT entity_id, {_etype_case_duckdb('canonical')} AS etype FROM nodes
),
mp_in AS (
  SELECT src_id AS a, rel AS rel1, dst_id AS m FROM (
    SELECT *, row_number() OVER (PARTITION BY dst_id
                                 ORDER BY src_id, rel) AS rn
    FROM mp_rel)
  WHERE rn <= {MP_CAP}
),
mp_out AS (
  SELECT src_id AS m, rel AS rel2, dst_id AS b FROM (
    SELECT *, row_number() OVER (PARTITION BY src_id
                                 ORDER BY dst_id, rel) AS rn
    FROM mp_rel)
  WHERE rn <= {MP_CAP}
),
mp_typed AS MATERIALIZED (
  SELECT ta.etype AS src_type, i.rel1, tm.etype AS mid_type,
         o.rel2, tb.etype AS dst_type
  FROM mp_in i JOIN mp_out o USING (m)
  JOIN mp_types ta ON i.a = ta.entity_id
  JOIN mp_types tm ON i.m = tm.entity_id
  JOIN mp_types tb ON o.b = tb.entity_id
)""")


def _segment_ctes() -> str:
    """Shared CTE chain: transcripts → topic segments (twin of
    kg.dialogue.topic_segments), ending in a ``segments`` table."""
    from openie_spark.kg.dialogue import SEGMENT_THRESH_PPM

    return f"""
seg_tok AS (
  SELECT conv_id, turn_idx,
         list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) AS toks
  FROM transcripts
),
seg_lag AS (
  SELECT conv_id, turn_idx, toks,
         lag(toks) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev
  FROM seg_tok
),
seg_ov AS (
  SELECT conv_id, turn_idx,
         CASE WHEN prev IS NULL
                OR len(list_distinct(toks || prev)) = 0 THEN CAST(0 AS BIGINT)
              ELSE (2 * len(list_intersect(toks, prev)) * 1000000
                    + len(list_distinct(toks || prev)))
                   // (2 * len(list_distinct(toks || prev)))
         END AS overlap_ppm,
         prev IS NULL AS is_first
  FROM seg_lag
),
seg_b AS (
  SELECT conv_id, turn_idx, overlap_ppm,
         (is_first OR overlap_ppm < {SEGMENT_THRESH_PPM}) AS is_boundary
  FROM seg_ov
),
segments AS (
  SELECT conv_id, turn_idx, overlap_ppm, is_boundary,
         CAST(sum(CASE WHEN is_boundary THEN 1 ELSE 0 END)
                OVER (PARTITION BY conv_id ORDER BY turn_idx
                      ROWS UNBOUNDED PRECEDING) - 1 AS INT) AS seg_idx
  FROM seg_b
)"""


def kg_topic_segments_sql() -> str:
    """Twin of kg.dialogue.topic_segments: lag of distinct token
    lists, exact-ppm overlap, running boundary sum."""
    return _with(
        TRANSCRIPTS_CTE_DUCKDB, _segment_ctes(),
        select="SELECT conv_id, turn_idx, overlap_ppm, is_boundary,"
               " seg_idx FROM segments",
    )


def kg_segment_salience_sql() -> str:
    """Twin of kg.enrich.segment_salience: kg_salience_sql's score
    with the (conv_id, seg_idx) composite key from the segments CTE."""
    from openie_spark.kg.enrich import SALIENCE_TOP

    return _with_kg(f"""
SELECT conv_id, seg_idx, entity_id, n_local, n_segs, salience,
       CAST(rank AS INT) AS rank
FROM (
  SELECT conv_id, seg_idx, entity_id, n_local, n_segs,
         (n_local * n_total) // n_segs AS salience,
         row_number() OVER (
           PARTITION BY conv_id, seg_idx
           ORDER BY (n_local * n_total) // n_segs DESC, entity_id) AS rank
  FROM ss_tf JOIN ss_idf USING (entity_id), ss_tot
)
WHERE rank <= {SALIENCE_TOP}""",
        extra_ctes=_segment_ctes() + """,
ss_occ AS (
  SELECT e.conv_id, s.seg_idx, e.src_id AS entity_id
  FROM kg_edges e JOIN segments s
    ON e.conv_id = s.conv_id AND e.turn_idx = s.turn_idx
  UNION ALL
  SELECT e.conv_id, s.seg_idx, e.dst_id
  FROM kg_edges e JOIN segments s
    ON e.conv_id = s.conv_id AND e.turn_idx = s.turn_idx
),
ss_tf AS MATERIALIZED (
  SELECT conv_id, seg_idx, entity_id, CAST(count(*) AS BIGINT) AS n_local
  FROM ss_occ GROUP BY 1, 2, 3),
ss_idf AS MATERIALIZED (
  SELECT entity_id, CAST(count(*) AS BIGINT) AS n_segs FROM ss_tf GROUP BY 1),
ss_tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_total
  FROM (SELECT DISTINCT conv_id, seg_idx FROM ss_occ))""",
    )


def _coref_stream_cte() -> str:
    """Shared CTE: the unfiltered mention stream with the
    last-prior-entity antecedent window (twin of kg.coref)."""
    from openie_spark.config import REF_FRAGMENTS, STOP_MENTIONS

    stops = ", ".join(f"'{s}'" for s in STOP_MENTIONS)
    frags = ", ".join(f"'{p}'" for p in REF_FRAGMENTS)
    return f"""
coref_stream AS (
  SELECT conv_id, turn_idx, sent_idx, ext_idx, side, norm,
         last_value(CASE WHEN norm NOT IN ({stops})
                          AND norm NOT IN ({frags}) THEN norm END IGNORE NULLS)
           OVER (PARTITION BY conv_id
                 ORDER BY turn_idx, sent_idx, ext_idx,
                          CASE side WHEN 'subj' THEN 0 ELSE 1 END
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS antecedent
  FROM mentions_all WHERE norm <> ''
)"""


def kg_coref_edges_sql() -> str:
    """Twin of kg.coref.coref_edges: apply resolutions to the
    normalized triples, keep repaired rows whose endpoints both map
    to vocabulary entities."""
    from openie_spark.config import REF_FRAGMENTS

    frags = ", ".join(f"'{p}'" for p in REF_FRAGMENTS)
    return _with_kg("""
SELECT md5(m1.component) AS src_id, md5(m2.component) AS dst_id,
       f.pred, f.conv_id, f.turn_idx, f.sent_idx, f.ext_idx, f.repaired
FROM cor_fixed f
JOIN canonmap m1 ON f.subj_norm = m1.norm
JOIN canonmap m2 ON f.obj_norm = m2.norm""",
        extra_ctes=_coref_stream_cte() + f""",
cor_res AS (
  SELECT conv_id, turn_idx, sent_idx, ext_idx, side, antecedent
  FROM coref_stream
  WHERE norm IN ({frags}) AND antecedent IS NOT NULL
),
cor_fixed AS (
  SELECT t.conv_id, t.turn_idx, t.sent_idx, t.ext_idx, t.pred,
         COALESCE(rs.antecedent, t.subj_norm) AS subj_norm,
         COALESCE(ro.antecedent, t.obj_norm) AS obj_norm,
         CASE WHEN rs.antecedent IS NOT NULL AND ro.antecedent IS NOT NULL
                THEN 'both'
              WHEN rs.antecedent IS NOT NULL THEN 'subj'
              ELSE 'obj' END AS repaired
  FROM tr_norm t
  LEFT JOIN cor_res rs ON t.conv_id = rs.conv_id AND t.turn_idx = rs.turn_idx
    AND t.sent_idx = rs.sent_idx AND t.ext_idx = rs.ext_idx AND rs.side = 'subj'
  LEFT JOIN cor_res ro ON t.conv_id = ro.conv_id AND t.turn_idx = ro.turn_idx
    AND t.sent_idx = ro.sent_idx AND t.ext_idx = ro.ext_idx AND ro.side = 'obj'
  WHERE rs.antecedent IS NOT NULL OR ro.antecedent IS NOT NULL
)""")


def kg_schema_sql() -> str:
    """Twin of kg.enrich.relation_schema: rel_canon key over the
    distinct-pred table, type attach via the shared CASE ladder,
    top-k type signatures per relation with exact-ppm shares."""
    from openie_spark.kg.enrich import AUX_TOKENS, SCHEMA_TOP

    aux = "[" + ", ".join(f"'{w}'" for w in AUX_TOKENS) + "]"
    return _with_kg(f"""
SELECT rel_canon, src_type, dst_type, n_edges, n_convs,
       CAST(rank AS INT) AS rank,
       CAST((2 * n_edges * 1000000 + rel_total) // (2 * rel_total) AS BIGINT)
         AS share_ppm
FROM (
  SELECT *,
         row_number() OVER (PARTITION BY rel_canon
                            ORDER BY n_edges DESC, src_type, dst_type) AS rank,
         sum(n_edges) OVER (PARTITION BY rel_canon) AS rel_total
  FROM sch_counts)
WHERE rank <= {SCHEMA_TOP}""",
        extra_ctes=f"""
sch_types AS MATERIALIZED (
  SELECT entity_id, {_etype_case_duckdb('canonical')} AS etype FROM nodes
),
sch_rel AS MATERIALIZED (
  SELECT pred,
         CASE WHEN len(content) > 0 THEN array_to_string(
                list_transform(content, t -> {_lemma_case_duckdb('t')}), ' ')
              ELSE array_to_string(toks, ' ') END AS rel_canon
  FROM (
    SELECT pred, toks,
           list_filter(toks, t -> NOT list_contains({aux}, t)) AS content
    FROM (
      SELECT pred, list_filter(string_split(pred, ' '), t -> t <> '') AS toks
      FROM (SELECT DISTINCT pred FROM kg_edges)
    )
  )
),
sch_counts AS MATERIALIZED (
  SELECT r.rel_canon, ts.etype AS src_type, td.etype AS dst_type,
         CAST(count(*) AS BIGINT) AS n_edges,
         CAST(count(DISTINCT e.conv_id) AS BIGINT) AS n_convs
  FROM kg_edges e
  JOIN sch_rel r USING (pred)
  JOIN sch_types ts ON e.src_id = ts.entity_id
  JOIN sch_types td ON e.dst_id = td.entity_id
  GROUP BY 1, 2, 3
)""")


def kg_salience_sql() -> str:
    """Twin of kg.enrich.entity_salience: exact-integer tf*idf-style
    score with // division, top-k per conversation."""
    from openie_spark.kg.enrich import SALIENCE_TOP

    return _with_kg(f"""
SELECT conv_id, entity_id, n_local, n_convs, salience, CAST(rank AS INT) AS rank
FROM (
  SELECT conv_id, entity_id, n_local, n_convs,
         (n_local * n_total) // n_convs AS salience,
         row_number() OVER (
           PARTITION BY conv_id
           ORDER BY (n_local * n_total) // n_convs DESC, entity_id) AS rank
  FROM s_tf JOIN s_idf USING (entity_id), s_tot
)
WHERE rank <= {SALIENCE_TOP}""",
        extra_ctes="""
s_occ AS (
  SELECT conv_id, src_id AS entity_id FROM kg_edges
  UNION ALL SELECT conv_id, dst_id FROM kg_edges),
s_tf AS MATERIALIZED (
  SELECT conv_id, entity_id, CAST(count(*) AS BIGINT) AS n_local
  FROM s_occ GROUP BY 1, 2),
s_idf AS MATERIALIZED (
  SELECT entity_id, CAST(count(*) AS BIGINT) AS n_convs FROM s_tf GROUP BY 1),
s_tot AS (
  SELECT CAST(count(DISTINCT conv_id) AS BIGINT) AS n_total FROM s_occ)""",
    )


def kg_degree_hist_sql() -> str:
    """Twin of kg.analytics.degree_histogram: undirected simple
    degrees with isolated nodes at degree 0, log2 bins via the same
    unpadded bin()-bitlength trick as the HLL oracle."""
    return _with_kg(
        """
SELECT CAST(CASE WHEN deg = 0 THEN 0 ELSE length(bin(deg)) END AS INT) AS bin,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(min(deg) AS BIGINT) AS min_deg,
       CAST(max(deg) AS BIGINT) AS max_deg,
       CAST(sum(deg) AS BIGINT) AS sum_deg
FROM full_deg GROUP BY 1""",
        extra_ctes="""
und AS MATERIALIZED (
  SELECT DISTINCT least(src_id, dst_id) AS a, greatest(src_id, dst_id) AS b
  FROM kg_edges WHERE src_id <> dst_id),
dg AS (
  SELECT entity_id, count(*) AS deg FROM (
    SELECT a AS entity_id FROM und UNION ALL SELECT b FROM und)
  GROUP BY 1),
full_deg AS (
  SELECT COALESCE(d.deg, 0) AS deg
  FROM nodes n LEFT JOIN dg d ON n.entity_id = d.entity_id)""",
    )


def _walk_ctes() -> tuple[str, str]:
    """Shared unrolled walk CTE chain for kg_walks_sql /
    kg_walk_pairs_sql: returns (ctes, union_select) where union_select
    yields (seed, step, node)."""
    from openie_spark.kg.analytics import KHOP_SALT, KHOP_SEED_MOD, WALK_LEN

    ticket = (f"CAST(concat('0x', substr(md5('{KHOP_SALT}#' || entity_id), "
              f"1, 15)) AS BIGINT)")
    h = ("CAST(concat('0x', substr(md5(seed || '#{step}#' || s.b), 1, 15)) "
         "AS BIGINT)")
    ctes = [f"""
und AS MATERIALIZED (
  SELECT DISTINCT least(src_id, dst_id) AS a, greatest(src_id, dst_id) AS b
  FROM kg_edges WHERE src_id <> dst_id),
sym AS MATERIALIZED (
  SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
w0 AS MATERIALIZED (
  SELECT entity_id AS seed, entity_id AS node FROM nodes
  WHERE {ticket} % {KHOP_SEED_MOD} = 0)"""]
    selects = ["SELECT seed, 0 AS step, node FROM w0"]
    for step in range(1, WALK_LEN + 1):
        hk = h.format(step=step)
        ctes.append(f"""
c{step} AS (
  SELECT w.seed, s.b AS cand, {hk} AS h
  FROM w{step - 1} w JOIN sym s ON w.node = s.a),
w{step} AS MATERIALIZED (
  SELECT seed, cand AS node FROM (
    SELECT seed, cand,
           row_number() OVER (PARTITION BY seed ORDER BY h, cand) AS rn
    FROM c{step}) WHERE rn = 1)""")
        selects.append(f"SELECT seed, {step} AS step, node FROM w{step}")
    return ",".join(ctes), "\nUNION ALL\n".join(selects)


def kg_walks_sql() -> str:
    """Twin of kg.analytics.hash_walks: the deterministic hash-driven
    walk unrolled to WALK_LEN steps — per step, each walk moves to the
    neighbor minimizing md5h60(seed || '#step#' || neighbor) (row_number
    ordered by (h, cand); the Spark side's min-of-struct is the same
    total order)."""
    ctes, union_select = _walk_ctes()
    return _with_kg(union_select, extra_ctes=ctes)


def kg_walk_pairs_sql() -> str:
    """Twin of kg.analytics.walk_skipgram_pairs: the walk table
    self-joined on seed with 0 < |i - j| <= WALK_WINDOW, counted."""
    from openie_spark.kg.analytics import WALK_WINDOW

    ctes, union_select = _walk_ctes()
    return _with_kg(
        f"""
SELECT a.node AS center, b.node AS context,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM walks a JOIN walks b ON a.seed = b.seed
WHERE a.step <> b.step AND abs(a.step - b.step) <= {WALK_WINDOW}
GROUP BY 1, 2""",
        extra_ctes=ctes + f""",
walks AS MATERIALIZED ({union_select})""",
    )


def kg_truss_sql() -> str:
    """Twin of __spark_entry__._q_kg_truss: the k-truss peel over the
    entity CO-MENTION pair graph (the relation KG is near-bipartite —
    triangle-free — so the truss runs on co-mention cliques), unrolled
    to TRUSS_MAX_ROUNDS rounds — each round enumerates triangles over
    the surviving edge set (id-ordered a<b<c here; orientation is only
    a performance trick, the triangle set is identical) and keeps
    edges with support >= k-2. Spark fails loudly past the round
    budget and peeling is monotone, so extra unrolled rounds are exact
    no-ops."""
    from openie_spark.kg.analytics import (
        ASSOC_MIN_CONVS,
        COMENTION_CAP,
        TRUSS_K,
        TRUSS_MAX_ROUNDS,
    )

    need = TRUSS_K - 2
    ctes = [f"""
tr_ents AS (
  SELECT DISTINCT conv_id, e FROM (
    SELECT conv_id, src_id AS e FROM kg_edges
    UNION ALL SELECT conv_id, dst_id AS e FROM kg_edges)
),
tr_capped AS MATERIALIZED (
  SELECT conv_id, e FROM (
    SELECT conv_id, e,
           row_number() OVER (PARTITION BY conv_id ORDER BY e) AS r
    FROM tr_ents)
  WHERE r <= {COMENTION_CAP}
),
te0 AS MATERIALIZED (
  SELECT l.e AS a, r.e AS b
  FROM tr_capped l JOIN tr_capped r
    ON l.conv_id = r.conv_id AND l.e < r.e
  GROUP BY 1, 2 HAVING count(*) >= {ASSOC_MIN_CONVS})"""]
    for r in range(TRUSS_MAX_ROUNDS):
        ctes.append(f"""
tt{r} AS (
  SELECT p.a AS x, p.b AS y, q.b AS z
  FROM te{r} p JOIN te{r} q ON q.a = p.b
  JOIN te{r} w ON w.a = p.a AND w.b = q.b),
te{r + 1} AS MATERIALIZED (
  SELECT a, b, CAST(count(*) AS BIGINT) AS support FROM (
    SELECT x AS a, y AS b FROM tt{r}
    UNION ALL SELECT y, z FROM tt{r}
    UNION ALL SELECT x, z FROM tt{r})
  GROUP BY 1, 2 HAVING count(*) >= {need})""")
    return _with_kg(
        f"SELECT a, b, support FROM te{TRUSS_MAX_ROUNDS}",
        extra_ctes=",".join(ctes),
    )


def kg_salsa_sql() -> str:
    """Twin of kg.analytics.salsa: the degree-normalized hub/authority
    recurrence unrolled to SALSA_ITERS Gauss-Seidel steps (auth from
    the previous hubs, hubs from the FRESH auths). Positive-BIGINT
    floor division, so // ≡ DIV and sums are order-independent."""
    from openie_spark.kg.analytics import PAGERANK_SCALE, SALSA_ITERS

    ctes = [f"""
se AS MATERIALIZED (SELECT DISTINCT src_id, dst_id FROM kg_edges WHERE src_id <> dst_id),
sod AS MATERIALIZED (SELECT src_id, count(*) AS od FROM se GROUP BY 1),
sid AS MATERIALIZED (SELECT dst_id, count(*) AS idg FROM se GROUP BY 1),
sh0 AS (SELECT entity_id, CAST({PAGERANK_SCALE} AS BIGINT) AS hub FROM nodes)"""]
    for k in range(SALSA_ITERS):
        ctes.append(f"""
sa{k + 1} AS MATERIALIZED (
  SELECT n.entity_id, CAST(COALESCE(c.s, 0) AS BIGINT) AS auth
  FROM nodes n LEFT JOIN (
    SELECT e.dst_id AS entity_id, sum(h.hub // o.od) AS s
    FROM se e JOIN sh{k} h ON e.src_id = h.entity_id
    JOIN sod o ON e.src_id = o.src_id GROUP BY 1) c USING (entity_id)),
sh{k + 1} AS MATERIALIZED (
  SELECT n.entity_id, CAST(COALESCE(c.s, 0) AS BIGINT) AS hub
  FROM nodes n LEFT JOIN (
    SELECT e.src_id AS entity_id, sum(a.auth // i.idg) AS s
    FROM se e JOIN sa{k + 1} a ON e.dst_id = a.entity_id
    JOIN sid i ON e.dst_id = i.dst_id GROUP BY 1) c USING (entity_id))""")
    return _with_kg(
        f"""SELECT a.entity_id, a.auth, h.hub
FROM sa{SALSA_ITERS} a JOIN sh{SALSA_ITERS} h USING (entity_id)""",
        extra_ctes=",".join(ctes),
    )


def kg_clustering_sql() -> str:
    """Twin of __spark_entry__._q_kg_clustering: local clustering
    coefficients over the REPEATED (n_convs >= 2) co-mention backbone
    (same base and noise rationale as kg_truss — the relation KG is
    triangle-free on this corpus). Id-ordered triangle enumeration
    (orientation-free), per-node corner counts, exact round-down
    ppm."""
    from openie_spark.kg.analytics import ASSOC_MIN_CONVS, COMENTION_CAP

    return _with_kg("""
SELECT n.entity_id,
       CAST(COALESCE(d.deg, 0) AS BIGINT) AS deg,
       CAST(COALESCE(t.n_tri, 0) AS BIGINT) AS n_tri,
       CAST(CASE WHEN COALESCE(d.deg, 0) >= 2
                 THEN (2 * COALESCE(t.n_tri, 0) * 1000000)
                        // (d.deg * (d.deg - 1))
                 ELSE 0 END AS BIGINT) AS cc_ppm
FROM nodes n
LEFT JOIN cc_deg d USING (entity_id)
LEFT JOIN cc_tri t USING (entity_id)""", extra_ctes=f"""
cc_ents AS (
  SELECT DISTINCT conv_id, e FROM (
    SELECT conv_id, src_id AS e FROM kg_edges
    UNION ALL SELECT conv_id, dst_id AS e FROM kg_edges)
),
cc_capped AS MATERIALIZED (
  SELECT conv_id, e FROM (
    SELECT conv_id, e,
           row_number() OVER (PARTITION BY conv_id ORDER BY e) AS r
    FROM cc_ents)
  WHERE r <= {COMENTION_CAP}
),
cc_und AS MATERIALIZED (
  SELECT l.e AS a, r.e AS b
  FROM cc_capped l JOIN cc_capped r
    ON l.conv_id = r.conv_id AND l.e < r.e
  GROUP BY 1, 2 HAVING count(*) >= {ASSOC_MIN_CONVS}
),
cc_deg AS MATERIALIZED (
  SELECT entity_id, count(*) AS deg FROM (
    SELECT a AS entity_id FROM cc_und UNION ALL SELECT b FROM cc_und)
  GROUP BY 1
),
cc_t AS (
  SELECT p.a AS x, p.b AS y, q.b AS z
  FROM cc_und p JOIN cc_und q ON q.a = p.b
  JOIN cc_und w ON w.a = p.a AND w.b = q.b
),
cc_tri AS MATERIALIZED (
  SELECT entity_id, count(*) AS n_tri FROM (
    SELECT x AS entity_id FROM cc_t
    UNION ALL SELECT y FROM cc_t
    UNION ALL SELECT z FROM cc_t)
  GROUP BY 1
)""")


def kg_rel_cardinality_sql() -> str:
    """Twin of kg.analytics.relation_cardinality: distinct simple
    statements, per-pred edge/src/dst counts, round-half-up ppm
    functionality and inverse functionality."""
    return _with_kg("""
SELECT pred,
       CAST(count(*) AS BIGINT) AS n_edges,
       CAST(count(DISTINCT src_id) AS BIGINT) AS n_src,
       CAST(count(DISTINCT dst_id) AS BIGINT) AS n_dst,
       (2 * count(DISTINCT src_id) * 1000000 + count(*))
         // (2 * count(*)) AS fun_ppm,
       (2 * count(DISTINCT dst_id) * 1000000 + count(*))
         // (2 * count(*)) AS inv_fun_ppm
FROM (SELECT DISTINCT src_id, dst_id, pred FROM kg_edges
      WHERE src_id <> dst_id)
GROUP BY pred""")


def kg_assoc_dice_sql() -> str:
    """Twin of kg.analytics.assoc_dice: capped per-conv entity sets,
    pair supports with a min-conv floor, per-entity marginals over the
    SAME capped sets, round-half-up ppm Dice."""
    from openie_spark.kg.analytics import ASSOC_MIN_CONVS, COMENTION_CAP

    return _with_kg(f"""
SELECT p.a, p.b, p.n_convs, ma.n_e AS n_a, mb.n_e AS n_b,
       (2 * (2 * p.n_convs) * 1000000 + (ma.n_e + mb.n_e))
         // (2 * (ma.n_e + mb.n_e)) AS dice_ppm
FROM ad_pairs p
JOIN ad_marg ma ON p.a = ma.e
JOIN ad_marg mb ON p.b = mb.e""", extra_ctes=f"""
ad_ents AS (
  SELECT DISTINCT conv_id, e FROM (
    SELECT conv_id, src_id AS e FROM kg_edges
    UNION ALL SELECT conv_id, dst_id AS e FROM kg_edges)
),
ad_capped AS MATERIALIZED (
  SELECT conv_id, e FROM (
    SELECT conv_id, e,
           row_number() OVER (PARTITION BY conv_id ORDER BY e) AS r
    FROM ad_ents)
  WHERE r <= {COMENTION_CAP}
),
ad_marg AS MATERIALIZED (
  SELECT e, CAST(count(*) AS BIGINT) AS n_e FROM ad_capped GROUP BY 1
),
ad_pairs AS MATERIALIZED (
  SELECT l.e AS a, r.e AS b, CAST(count(*) AS BIGINT) AS n_convs
  FROM ad_capped l JOIN ad_capped r
    ON l.conv_id = r.conv_id AND l.e < r.e
  GROUP BY 1, 2 HAVING count(*) >= {ASSOC_MIN_CONVS}
)""")


def kg_wpagerank_sql() -> str:
    """Twin of __spark_entry__._q_kg_wpagerank: the weighted-PageRank
    integer recurrence over the co-mention pair graph (w = n_convs),
    unrolled; shares use the same overflow-free decomposition
    w*(rank // s) + (w*(rank % s)) // s as the Spark side."""
    from openie_spark.kg.analytics import (
        COMENTION_CAP,
        PAGERANK_ITERS,
        PAGERANK_SCALE,
    )

    base = (15 * PAGERANK_SCALE) // 100
    ctes = [f"""
wp_ents AS (
  SELECT DISTINCT conv_id, e FROM (
    SELECT conv_id, src_id AS e FROM kg_edges
    UNION ALL SELECT conv_id, dst_id AS e FROM kg_edges)
),
wp_capped AS MATERIALIZED (
  SELECT conv_id, e FROM (
    SELECT conv_id, e,
           row_number() OVER (PARTITION BY conv_id ORDER BY e) AS r
    FROM wp_ents)
  WHERE r <= {COMENTION_CAP}
),
wp_pairs AS MATERIALIZED (
  SELECT l.e AS a, r.e AS b, CAST(count(*) AS BIGINT) AS w
  FROM wp_capped l JOIN wp_capped r
    ON l.conv_id = r.conv_id AND l.e < r.e
  GROUP BY 1, 2
),
wp_sym AS MATERIALIZED (
  SELECT a AS src, b AS dst, w FROM wp_pairs
  UNION ALL SELECT b, a, w FROM wp_pairs
),
wp_str AS MATERIALIZED (
  SELECT src, CAST(sum(w) AS BIGINT) AS s FROM wp_sym GROUP BY 1
),
wr0 AS (SELECT entity_id, CAST({PAGERANK_SCALE} AS BIGINT) AS rank FROM nodes)"""]
    for k in range(PAGERANK_ITERS):
        ctes.append(f"""
wc{k + 1} AS (
  SELECT e.dst AS entity_id,
         sum(e.w * (r.rank // t.s) + (e.w * (r.rank % t.s)) // t.s) AS i
  FROM wp_sym e
  JOIN wr{k} r ON e.src = r.entity_id
  JOIN wp_str t ON e.src = t.src
  GROUP BY 1),
wr{k + 1} AS (
  SELECT n.entity_id,
         CAST({base} + (85 * COALESCE(c.i, 0)) // 100 AS BIGINT) AS rank
  FROM nodes n LEFT JOIN wc{k + 1} c ON n.entity_id = c.entity_id)""")
    return _with_kg(
        f"SELECT entity_id, rank FROM wr{PAGERANK_ITERS}",
        extra_ctes=",".join(ctes),
    )


def kg_support_hist_sql() -> str:
    """Twin of kg.analytics.support_histogram: distinct-statement
    re-assertion counts, bit-length bins (same unpadded
    length(bin(x)) semantics in both engines — the kg_degree_hist /
    HLL trick; support >= 1 so the zero case never arises)."""
    return _with_kg("""
SELECT CAST(length(bin(support)) AS INT) AS bin,
       CAST(count(*) AS BIGINT) AS n_statements,
       CAST(min(support) AS BIGINT) AS min_support,
       CAST(max(support) AS BIGINT) AS max_support,
       CAST(sum(support) AS BIGINT) AS sum_support
FROM (
  SELECT src_id, dst_id, pred, count(*) AS support
  FROM kg_edges WHERE src_id <> dst_id
  GROUP BY 1, 2, 3)
GROUP BY 1""")


def kg_rules_sql() -> str:
    """Twin of kg.analytics.rule_implications: canonical-relation
    statements deduped, capped per (src, dst) key, ordered-pair
    self-join with the min-support floor, body marginal over the SAME
    capped set, round-half-up ppm confidence."""
    from openie_spark.kg.analytics import RULE_MIN_SUPPORT, RULE_PAIR_CAP
    from openie_spark.kg.enrich import AUX_TOKENS

    aux = "[" + ", ".join(f"'{w}'" for w in AUX_TOKENS) + "]"
    return _with_kg(f"""
SELECT b.body, b.head, b.n_both, m.n_body,
       (2 * b.n_both * 1000000 + m.n_body) // (2 * m.n_body) AS conf_ppm
FROM ri_both b JOIN ri_body m ON b.body = m.rel""", extra_ctes=f"""
ri_rkey AS (
  SELECT pred,
         CASE WHEN len(content) > 0 THEN array_to_string(
                list_transform(content, t -> {_lemma_case_duckdb('t')}), ' ')
              ELSE array_to_string(toks, ' ') END AS rel
  FROM (
    SELECT pred, toks,
           list_filter(toks, t -> NOT list_contains({aux}, t)) AS content
    FROM (
      SELECT pred, list_filter(string_split(pred, ' '), t -> t <> '') AS toks
      FROM (SELECT DISTINCT pred FROM kg_edges)
    )
  )
),
ri_capped AS MATERIALIZED (
  SELECT src_id, dst_id, rel FROM (
    SELECT src_id, dst_id, rel,
           row_number() OVER (PARTITION BY src_id, dst_id ORDER BY rel) AS rn
    FROM (
      SELECT DISTINCT e.src_id, e.dst_id, r.rel
      FROM kg_edges e JOIN ri_rkey r USING (pred)
      WHERE e.src_id <> e.dst_id
    )
  ) WHERE rn <= {RULE_PAIR_CAP}
),
ri_body AS MATERIALIZED (
  SELECT rel, CAST(count(*) AS BIGINT) AS n_body FROM ri_capped GROUP BY 1
),
ri_both AS (
  SELECT l.rel AS body, r.rel AS head, CAST(count(*) AS BIGINT) AS n_both
  FROM ri_capped l JOIN ri_capped r
    ON l.src_id = r.src_id AND l.dst_id = r.dst_id AND l.rel <> r.rel
  GROUP BY 1, 2 HAVING count(*) >= {RULE_MIN_SUPPORT}
)""")


def kg_conflicts_sql() -> str:
    """Twin of kg.analytics.functional_conflicts: relation
    functionality over distinct simple statements, the near-functional
    slice, then multi-object subjects over occurrence edges."""
    from openie_spark.kg.analytics import (
        CONFLICT_FUN_PPM,
        CONFLICT_MIN_EDGES,
        CONFLICT_MIN_OBJS,
    )

    return _with_kg(f"""
SELECT e.pred, e.src_id,
       CAST(count(DISTINCT e.dst_id) AS BIGINT) AS n_objs,
       CAST(count(*) AS BIGINT) AS n_mentions
FROM kg_edges e JOIN fc_card c USING (pred)
WHERE e.src_id <> e.dst_id
GROUP BY 1, 2 HAVING count(DISTINCT e.dst_id) >= {CONFLICT_MIN_OBJS}""",
        extra_ctes=f"""
fc_card AS MATERIALIZED (
  SELECT pred FROM (
    SELECT pred, count(*) AS n_edges, count(DISTINCT src_id) AS n_src
    FROM (SELECT DISTINCT src_id, dst_id, pred FROM kg_edges
          WHERE src_id <> dst_id)
    GROUP BY pred)
  WHERE (2 * n_src * 1000000 + n_edges) // (2 * n_edges) >= {CONFLICT_FUN_PPM}
    AND n_edges >= {CONFLICT_MIN_EDGES}
)""")


def kg_type_graph_sql() -> str:
    """Twin of kg.analytics.type_pair_graph: the rule-ladder etype on
    both endpoints, one (src_type, dst_type) rollup over simple-edge
    occurrences with distinct statement/relation/endpoint counts."""
    return _with_kg(f"""
SELECT ts.etype AS src_type, td.etype AS dst_type,
       CAST(count(*) AS BIGINT) AS n_edges,
       CAST(count(DISTINCT (e.src_id, e.dst_id, e.pred)) AS BIGINT) AS n_stmts,
       CAST(count(DISTINCT e.pred) AS BIGINT) AS n_rels,
       CAST(count(DISTINCT e.src_id) AS BIGINT) AS n_src_ents,
       CAST(count(DISTINCT e.dst_id) AS BIGINT) AS n_dst_ents
FROM kg_edges e
JOIN tg_types ts ON e.src_id = ts.entity_id
JOIN tg_types td ON e.dst_id = td.entity_id
WHERE e.src_id <> e.dst_id
GROUP BY 1, 2""", extra_ctes=f"""
tg_types AS MATERIALIZED (
  SELECT entity_id, {_etype_case_duckdb('canonical')} AS etype FROM nodes
)""")


def kg_growth_sql() -> str:
    """Twin of kg.analytics.kg_growth: integer epoch-day first-seen
    counts for entities and distinct statements, with running
    cumulative totals over the day table."""
    return _with_kg("""
SELECT day, new_entities, new_statements,
       CAST(SUM(new_entities) OVER w AS BIGINT) AS cum_entities,
       CAST(SUM(new_statements) OVER w AS BIGINT) AS cum_statements
FROM gr_days
WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",
        extra_ctes="""
gr_stamped AS MATERIALIZED (
  SELECT e.src_id, e.dst_id, e.pred,
         epoch_us(t.ts) // 86400000000 AS day
  FROM kg_edges e
  JOIN transcripts t ON e.conv_id = t.conv_id AND e.turn_idx = t.turn_idx
),
gr_ent AS (
  SELECT day, CAST(count(*) AS BIGINT) AS new_entities FROM (
    SELECT e, min(day) AS day FROM (
      SELECT src_id AS e, day FROM gr_stamped
      UNION ALL SELECT dst_id AS e, day FROM gr_stamped)
    GROUP BY e)
  GROUP BY day
),
gr_stmt AS (
  SELECT day, CAST(count(*) AS BIGINT) AS new_statements FROM (
    SELECT src_id, dst_id, pred, min(day) AS day FROM gr_stamped
    GROUP BY 1, 2, 3)
  GROUP BY day
),
gr_days AS (
  SELECT COALESCE(e.day, s.day) AS day,
         CAST(COALESCE(e.new_entities, 0) AS BIGINT) AS new_entities,
         CAST(COALESCE(s.new_statements, 0) AS BIGINT) AS new_statements
  FROM gr_ent e FULL JOIN gr_stmt s ON e.day = s.day
)""")


def kg_linking_eval_sql() -> str:
    """Twin of __spark_entry__._q_kg_linking_eval: the exact-Jaccard
    pair table (``pairs``) full-outer-joined against the fully
    recomputed minhash-LSH pair table (``mh_pairs``), rolled up to the
    one-row recall audit."""
    return _with_kg("""
SELECT n_exact, n_candidate, n_both,
       CASE WHEN n_exact > 0 THEN
         (2 * n_both * 1000000 + n_exact) // (2 * n_exact) END AS recall_ppm,
       n_candidate - n_both AS n_extra
FROM pa_agg""", extra_ctes=_minhash_ctes() + """,
pa_agg AS (
  SELECT CAST(COALESCE(SUM(in_exact), 0) AS BIGINT) AS n_exact,
         CAST(COALESCE(SUM(in_cand), 0) AS BIGINT) AS n_candidate,
         CAST(COALESCE(SUM(in_exact * in_cand), 0) AS BIGINT) AS n_both
  FROM (
    SELECT CASE WHEN e.a IS NOT NULL THEN 1 ELSE 0 END AS in_exact,
           CASE WHEN c.a IS NOT NULL THEN 1 ELSE 0 END AS in_cand
    FROM (SELECT a, b FROM pairs) e
    FULL JOIN (SELECT a, b FROM mh_pairs) c ON e.a = c.a AND e.b = c.b
  )
)""")


def kg_mixing_sql() -> str:
    """Twin of kg.analytics.degree_mixing_sums: symmetrized simple
    undirected edge ends, exact BIGINT degree sums."""
    return _with_kg("""
SELECT CAST(count(*) AS BIGINT) AS n_ends,
       CAST(sum(du.d) AS BIGINT) AS s_d,
       CAST(sum(du.d * dv.d) AS BIGINT) AS s_prod,
       CAST(sum(du.d * du.d) AS BIGINT) AS s_sq
FROM dm_both e
JOIN dm_deg du ON e.u = du.u
JOIN dm_deg dv ON e.v = dv.u""", extra_ctes="""
dm_und AS (
  SELECT least(src_id, dst_id) AS a, greatest(src_id, dst_id) AS b
  FROM kg_edges WHERE src_id <> dst_id
  GROUP BY 1, 2
),
dm_both AS MATERIALIZED (
  SELECT a AS u, b AS v FROM dm_und
  UNION ALL SELECT b AS u, a AS v FROM dm_und
),
dm_deg AS MATERIALIZED (
  SELECT u, CAST(count(*) AS BIGINT) AS d FROM dm_both GROUP BY 1
)""")


def kg_blocking_stats_sql() -> str:
    """Twin of kg.linking.skew_stats over the LINKABLE mention slice
    (n_tokens <= MAX_MENTION_TOKENS, matching exact_pairs/
    editdist_pairs' blocked population): both prefix block keys per
    norm, per-key counts, hot-block and dropped-mention totals at the
    MAX_BLOCK cap."""
    from openie_spark.config import MAX_BLOCK, MAX_MENTION_TOKENS
    from openie_spark.kg.linking import BLOCK_PREFIX

    return _with_kg(f"""
SELECT CAST(count(*) AS BIGINT) AS n_blocks,
       CAST(sum(CASE WHEN n > {MAX_BLOCK} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hot_blocks,
       CAST(sum(CASE WHEN n > {MAX_BLOCK} THEN n ELSE 0 END) AS BIGINT)
         AS n_dropped_mentions
FROM bs_per""", extra_ctes=f"""
bs_keys AS (
  SELECT u.bk AS bkey
  FROM vocab, unnest(list_distinct([
      'f|' || substr(string_split(norm, ' ')[1], 1, {BLOCK_PREFIX}),
      'l|' || substr(string_split(norm, ' ')[-1], 1, {BLOCK_PREFIX})])) AS u(bk)
  WHERE len(tokens) <= {MAX_MENTION_TOKENS}
),
bs_per AS (
  SELECT bkey, count(*) AS n FROM bs_keys GROUP BY 1
)""")


def kg_snapshot_sql() -> str:
    """Twin of kg.analytics.kg_snapshot: midpoint-cutoff statement
    slice with at-T mention counts."""
    return _with_kg("""
SELECT src_id, dst_id, pred,
       CAST(count(*) AS BIGINT) AS n_mentions,
       CAST(min(ts_us) AS BIGINT) AS first_us
FROM sn_stamped
WHERE ts_us <= (SELECT (min(ts_us) + max(ts_us)) // 2 FROM sn_stamped)
GROUP BY 1, 2, 3""", extra_ctes="""
sn_stamped AS MATERIALIZED (
  SELECT e.src_id, e.dst_id, e.pred, epoch_us(t.ts) AS ts_us
  FROM kg_edges e
  JOIN transcripts t ON e.conv_id = t.conv_id AND e.turn_idx = t.turn_idx
)""")


def kg_kge_eval_sql() -> str:
    """Twin of kg.analytics.kge_rank_eval: the full filtered-ranking
    protocol recomputed — split, train-coverage filter, hash-ring tail
    corruption, md5-integer TransE-L1 scores, strict-better ranks with
    the entity-id tie order, round-half-up ppm rollups."""
    from openie_spark.kg.analytics import (
        KGE_DIM,
        KGE_NEGS,
        KGE_SALT,
        NEG_BUCKETS,
        NEG_SALT,
        SPLIT_MOD,
        SPLIT_SALT,
        SPLIT_TEST,
        SPLIT_VALID,
    )

    ticket = _md5h60(
        f"'{SPLIT_SALT}' || '|' || src_id || '|' || pred || '|' || dst_id")

    def comp(kind: str, ident: str, d: int) -> str:
        return ("(" + _md5h60(f"'{KGE_SALT}#{kind}#' || {ident} || '#{d}'")
                + " % 2001 - 1000)")

    def score(tail: str) -> str:
        return " + ".join(
            f"abs({comp('e', 'src_id', d)} + {comp('r', 'pred', d)}"
            f" - {comp('e', tail, d)})"
            for d in range(KGE_DIM))

    ebucket = _md5h60(f"'{NEG_SALT}e#' || entity_id") + f" % {NEG_BUCKETS}"
    pbucket = (_md5h60(
        f"'{NEG_SALT}#' || CAST(neg_idx AS VARCHAR) || '#' || src_id"
          f" || '#' || pred || '#' || dst_id") + f" % {NEG_BUCKETS}")
    rate = "CASE WHEN n_test > 0 THEN (2 * {x} * 1000000 + n_test) // (2 * n_test) END"
    return _with_kg(f"""
SELECT n_test, n_candidates,
       CASE WHEN n_test > 0 THEN (2 * s_inv + n_test) // (2 * n_test) END
         AS mrr_ppm,
       {rate.format(x='h1')} AS hits1_ppm,
       {rate.format(x='h3')} AS hits3_ppm,
       {rate.format(x='h10')} AS hits10_ppm
FROM (
  SELECT CAST(count(*) AS BIGINT) AS n_test,
         CAST(COALESCE(sum(n_cands), 0) AS BIGINT) AS n_candidates,
         CAST(COALESCE(sum(1000000 // rank), 0) AS BIGINT) AS s_inv,
         CAST(COALESCE(sum(CASE WHEN rank <= 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS h1,
         CAST(COALESCE(sum(CASE WHEN rank <= 3 THEN 1 ELSE 0 END), 0) AS BIGINT) AS h3,
         CAST(COALESCE(sum(CASE WHEN rank <= 10 THEN 1 ELSE 0 END), 0) AS BIGINT) AS h10
  FROM kge_ranked
)""", extra_ctes=f"""
kge_t AS MATERIALIZED (
  SELECT src_id, pred, dst_id,
         CASE {ticket} % {SPLIT_MOD}
           WHEN {SPLIT_TEST} THEN 'test'
           WHEN {SPLIT_VALID} THEN 'valid'
           ELSE 'train' END AS split
  FROM (SELECT DISTINCT src_id, pred, dst_id FROM kg_edges)),
kge_tents AS MATERIALIZED (
  SELECT DISTINCT eid FROM (
    SELECT src_id AS eid FROM kge_t WHERE split = 'train'
    UNION ALL SELECT dst_id FROM kge_t WHERE split = 'train')),
kge_tpreds AS MATERIALIZED (
  SELECT DISTINCT pred FROM kge_t WHERE split = 'train'),
kge_test AS MATERIALIZED (
  SELECT t.src_id, t.pred, t.dst_id
  FROM kge_t t
  JOIN kge_tents s ON t.src_id = s.eid
  JOIN kge_tents d ON t.dst_id = d.eid
  JOIN kge_tpreds p ON t.pred = p.pred
  WHERE t.split = 'test'),
kge_reps AS MATERIALIZED (
  SELECT {ebucket} AS bucket, min(entity_id) AS neg_dst
  FROM nodes GROUP BY 1),
kge_cands AS MATERIALIZED (
  SELECT p.src_id, p.pred, p.dst_id, r.neg_dst
  FROM (
    SELECT src_id, pred, dst_id, neg_idx, {pbucket} AS bucket
    FROM kge_test, (SELECT unnest(range(0, {KGE_NEGS})) AS neg_idx)
  ) p
  JOIN kge_reps r ON p.bucket = r.bucket
  WHERE r.neg_dst <> p.dst_id AND r.neg_dst <> p.src_id
    AND NOT EXISTS (SELECT 1 FROM kge_t k
                    WHERE k.src_id = p.src_id AND k.pred = p.pred
                      AND k.dst_id = r.neg_dst)),
kge_ranked AS (
  SELECT src_id, pred, dst_id,
         CAST(count(*) AS BIGINT) AS n_cands,
         1 + CAST(sum(CASE WHEN s_neg < s_true
                             OR (s_neg = s_true AND neg_dst < dst_id)
                           THEN 1 ELSE 0 END) AS BIGINT) AS rank
  FROM (
    SELECT src_id, pred, dst_id, neg_dst,
           {score('neg_dst')} AS s_neg,
           {score('dst_id')} AS s_true
    FROM kge_cands)
  GROUP BY 1, 2, 3)""")


def kg_role_transitions_sql() -> str:
    """Twin of kg.dialogue.role_transitions: lead() over turn order per
    conversation, roles² collapse, conv support, round-down row_ppm."""
    return _with(TRANSCRIPTS_CTE_DUCKDB, """
pairs AS (
  SELECT from_role, to_role,
         CAST(count(*) AS BIGINT) AS n_transitions,
         CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs
  FROM (
    SELECT conv_id, role AS from_role,
           lead(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS to_role
    FROM transcripts)
  WHERE to_role IS NOT NULL GROUP BY 1, 2
),
totals AS (
  SELECT from_role, sum(n_transitions) AS n_from FROM pairs GROUP BY 1
)""", select="""
SELECT p.from_role, p.to_role, p.n_transitions, p.n_convs,
       CAST(p.n_transitions * 1000000 // t.n_from AS BIGINT) AS row_ppm
FROM pairs p JOIN totals t USING (from_role)""")


def kg_tool_stats_sql() -> str:
    """Twin of kg.dialogue.tool_stats: lead-ts turnaround in integer
    minutes over the conversation window, tools-sized rollup."""
    return _with(TRANSCRIPTS_CTE_DUCKDB, """
tturns AS (
  SELECT conv_id, tool, length(text) AS n_chars,
         (lead(epoch_us(ts)) OVER (PARTITION BY conv_id ORDER BY turn_idx)
          - epoch_us(ts)) // 60000000 AS lat_min
  FROM transcripts
  QUALIFY tool IS NOT NULL
)""", select="""
SELECT tool,
       CAST(count(*) AS BIGINT) AS n_calls,
       CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(sum(n_chars) // count(*) AS BIGINT) AS avg_chars,
       CAST(count(lat_min) AS BIGINT) AS n_followed,
       CAST(COALESCE(sum(lat_min) // nullif(count(lat_min), 0), -1) AS BIGINT)
         AS avg_follow_min
FROM tturns GROUP BY 1""")


def kg_tool_sequences_sql() -> str:
    """Twin of kg.dialogue.tool_sequences: lead(tool) over the
    tool-bearing slice per conversation, tools-squared collapse,
    round-down row_ppm."""
    return _with(TRANSCRIPTS_CTE_DUCKDB, """
tpairs AS (
  SELECT from_tool, to_tool,
         CAST(count(*) AS BIGINT) AS n_transitions,
         CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs
  FROM (
    SELECT conv_id, tool AS from_tool,
           lead(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS to_tool
    FROM transcripts WHERE tool IS NOT NULL)
  WHERE to_tool IS NOT NULL GROUP BY 1, 2
),
ttotals AS (
  SELECT from_tool, sum(n_transitions) AS n_from FROM tpairs GROUP BY 1
)""", select="""
SELECT p.from_tool, p.to_tool, p.n_transitions, p.n_convs,
       CAST(p.n_transitions * 1000000 // t.n_from AS BIGINT) AS row_ppm
FROM tpairs p JOIN ttotals t USING (from_tool)""")


def kg_alias_hist_sql() -> str:
    """Twin of kg.analytics.alias_histogram over the nodes CTE."""
    return _with_kg("""
SELECT CAST(length(bin(CAST(n_aliases AS BIGINT))) AS INT) AS bin,
       CAST(count(*) AS BIGINT) AS n_entities,
       CAST(min(n_aliases) AS BIGINT) AS min_aliases,
       CAST(max(n_aliases) AS BIGINT) AS max_aliases,
       CAST(sum(n_aliases) AS BIGINT) AS sum_aliases
FROM nodes GROUP BY 1""")


# --------------------------------------------- conversation near-dup

_TOKS = "list_filter(string_split({c}, ' '), x -> x <> '')"

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


def _minhash_doc_ctes(planted: str) -> str:
    """Minhash-LSH doc-pair path as a CTE chain ending in
    ``mhp(a, b, jaccard)``: signature slots → band hashes →
    band-bucket self-join → exact-Jaccard verification. ``planted``
    is a CTE chain ending in planted(doc_id, text)."""
    from openie_spark.kg.dialogue import DOC_BANDS, DOC_JACCARD, DOC_ROWS

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


def conv_minhash_pairs_sql() -> str:
    """Twin of kg.dialogue.conv_neardup_pairs: conversations flattened
    via ORDER BY turn_idx string_agg (≡ Spark's array_sort on
    (turn_idx, text) structs — turn_idx is unique per conv), perturbed
    twins planted with the same every-PERTURB_DROPth-token drop, then
    the full minhash-LSH recomputation."""
    from openie_spark.kg.dialogue import PERTURB_DROP

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
    return (f"WITH {_minhash_doc_ctes(conv_planted)}\n"
            "SELECT a, b, round(jaccard, 6) AS jaccard FROM mhp")
