"""Output checks for the benchmark, run outside the timed region.

* ``run_oracle`` runs a stage's DuckDB oracle from the program's own
  ``oracle_sql()`` over the generated documents.
* ``kg_reference`` derives the KG stage tables (pairs, components,
  nodes, edges, relations) from those oracle triples in plain Python,
  transcribing the same SQL (``plans/oracles._kg_ctes``): blocking on
  first/last-word prefixes, hot blocks dropped, token Jaccard, min-member
  connected components. The DuckDB KG oracles take ~3 s each at the
  benchmark's input size (every query re-materializes the whole CTE
  chain), too slow to run on every benchmark run; ``test_perfbench.py``
  checks this transcription against them.
* ``table_rows`` reads a written stage table back with pyarrow.

Tables compare with ``tools/check_oracles.value_hash`` (order-insensitive,
type-preserving).
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter, defaultdict

import pyarrow.parquet as pq

from gen import block_keys
from openie_spark.config import LINK_JACCARD, MAX_BLOCK, MAX_MENTION_TOKENS, STOP_MENTIONS
from tools.check_oracles import value_hash

# stage table -> (oracle_sql() entry, compared columns)
STAGES = {
    "triples": ("triples_extract", ["conv_id", "turn_idx", "sent_idx", "ext_idx",
                                    "sent", "pred", "subj", "obj", "confidence"]),
    "pairs": ("kg_pairs_exact", ["a", "b", "jaccard"]),
    "components": ("kg_components", ["norm", "freq", "component"]),
    "nodes": ("kg_nodes", ["entity_id", "canonical", "n_aliases", "freq"]),
    "edges": ("kg_edges", ["src_id", "dst_id", "pred", "conv_id", "turn_idx",
                           "sent_idx", "ext_idx"]),
    "relations": ("kg_relations", ["src_id", "dst_id", "pred", "n_mentions", "n_convs"]),
}
GRAPH_STAGES = ("nodes", "edges", "relations")


def _rounded(name: str, rows: list[tuple]) -> list[tuple]:
    # kg_pairs_exact projects round(jaccard, 6) on both engines
    if name != "pairs":
        return rows
    return [(a, b, round(j, 6)) for a, b, j in rows]


def table_rows(path: str, stage: str) -> list[tuple]:
    """The compared columns of a written ``stage`` table, as tuples."""
    cols = STAGES[stage][1]
    t = pq.read_table(path, columns=cols)
    return _rounded(stage, list(zip(*(t.column(c).to_pylist() for c in cols))))


def stage_hashes(out_dir: str, names=tuple(STAGES)) -> dict[str, str]:
    return {n: value_hash(table_rows(f"{out_dir}/{n}", n), STAGES[n][1]) for n in names}


def duck_connection(docs_path: str, threads: int, spill_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads={threads}")
    con.execute("SET memory_limit='1GB'")
    con.execute(f"SET temp_directory='{spill_dir}'")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{docs_path}'")
    return con


def fetch(con, sql: str, cols: list[str]) -> list[tuple]:
    """Rows of a DuckDB query, fetched through pandas as
    ``tools/check_oracles.py`` does (NaN back to None)."""
    pdf = con.execute(sql).df()
    if list(pdf.columns) != cols:
        raise AssertionError(f"oracle columns {list(pdf.columns)} != {cols}")
    return [tuple(None if (isinstance(x, float) and x != x) else x for x in row)
            for row in pdf.itertuples(index=False, name=None)]


def run_oracle(con, stage: str) -> list[tuple]:
    """The oracle_sql() entry of a stage."""
    import __spark_entry__

    name, cols = STAGES[stage]
    return fetch(con, __spark_entry__.oracle_sql()[name], cols)


# -------------------------------------------------- python transcription

_DROP = re.compile(r"[^a-z0-9 ]")
_SPACES = re.compile(r"\s+")


def norm_mention(s: str) -> str:
    return _SPACES.sub(" ", _DROP.sub("", s.lower())).strip()


def exact_pairs_ref(vocab: dict[str, int]) -> dict[tuple[str, str], float]:
    tokens = {m: set(m.split(" ")) for m in vocab}
    blocks: dict[str, list[str]] = defaultdict(list)
    for m, tk in tokens.items():
        if len(tk) <= MAX_MENTION_TOKENS:
            for k in block_keys(m):
                blocks[k].append(m)
    pairs: dict[tuple[str, str], float] = {}
    for members in blocks.values():
        if len(members) > MAX_BLOCK:
            continue
        members.sort()
        for i, a in enumerate(members):
            ta = tokens[a]
            for b in members[i + 1:]:
                tb = tokens[b]
                inter = len(ta & tb)
                j = inter / (len(ta) + len(tb) - inter)
                if j >= LINK_JACCARD:
                    pairs[(a, b)] = j
    return pairs


def components_ref(pairs) -> dict[str, str]:
    """norm -> lexicographically smallest member of its component."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def kg_reference(triples: list[tuple]) -> dict[str, list[tuple]]:
    """KG stage tables from ``triples_extract`` rows (STAGES column order)."""
    stops = set(STOP_MENTIONS)
    tn = [(t[0], t[1], t[2], t[3], t[5], norm_mention(t[6]), norm_mention(t[7]))
          for t in triples]
    vocab: Counter = Counter(
        m for t in tn for m in (t[5], t[6]) if m and m not in stops)
    pairs = exact_pairs_ref(vocab)
    comp = components_ref(pairs)
    canon = {m: comp.get(m, m) for m in vocab}
    node_freq: Counter = Counter()
    node_n: Counter = Counter()
    for m, f in vocab.items():
        node_freq[canon[m]] += f
        node_n[canon[m]] += 1

    def eid(c: str) -> str:
        return hashlib.md5(c.encode()).hexdigest()

    edges = [(eid(canon[s]), eid(canon[o]), pred, conv, turn, sent, ext)
             for conv, turn, sent, ext, pred, s, o in tn
             if s in canon and o in canon]
    rel_n: Counter = Counter()
    rel_convs: dict[tuple, set] = defaultdict(set)
    for e in edges:
        rel_n[e[:3]] += 1
        rel_convs[e[:3]].add(e[3])
    return {
        "triples": list(triples),
        "pairs": _rounded("pairs", [(a, b, j) for (a, b), j in pairs.items()]),
        "components": [(m, f, canon[m]) for m, f in vocab.items()],
        "nodes": [(eid(c), c, node_n[c], f) for c, f in node_freq.items()],
        "edges": edges,
        "relations": [(*k, n, len(rel_convs[k])) for k, n in rel_n.items()],
    }


def reference_hashes(triples: list[tuple]) -> dict[str, str]:
    ref = kg_reference(triples)
    return {n: value_hash(rows, STAGES[n][1]) for n, rows in ref.items()}
