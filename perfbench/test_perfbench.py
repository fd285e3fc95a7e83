"""Tests for the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import ast
import hashlib
import json
import os
import re
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import pyarrow as pa  # noqa: E402

import checks  # noqa: E402
import gen  # noqa: E402
import tracing  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


# ------------------------------------------------------------ generator

def test_kg_corpus_is_a_function_of_the_seed():
    a, b = gen.kg_corpus(3, n_docs=200), gen.kg_corpus(3, n_docs=200)
    assert a[0].equals(b[0]) and a[1].equals(b[1]) and a[2] == b[2]
    c = gen.kg_corpus(4, n_docs=200)
    assert not a[0].equals(c[0])


def test_kg_corpus_delta_is_new_conversations():
    prior, delta, stats = gen.kg_corpus(1, n_docs=200)
    assert prior.num_rows + delta.num_rows == 200
    assert delta.column("doc_id")[0].as_py() == prior.num_rows
    assert prior.num_rows % 5 == 0            # TURNS_PER_CONV
    assert stats["delta_share"] == delta.num_rows / 200


def test_kg_corpus_default_skew():
    _, _, stats = gen.kg_corpus(1)
    assert 1 <= stats["hot_blocks"] <= 3
    assert stats["blocks"] > 100 * stats["hot_blocks"]


def test_eval_corpus_is_a_function_of_the_seed():
    d1, g1, s1 = gen.eval_corpus(5, 20)
    d2, g2, s2 = gen.eval_corpus(5, 20)
    assert d1.equals(d2) and g1 == g2 and s1 == s2
    assert len(g1) == 80 and s1["sentences"] == 80
    assert not gen.eval_corpus(6, 20)[0].equals(d1)
    sent, pred, args = g1[0]
    assert sent == f"{args[0]} {pred} {args[1]} ."


def test_pseudo_words_avoid_predicates_and_stops():
    from openie_spark.config import PRED_LEXICON, STOP_MENTIONS

    ws = gen.pseudo_words(5000, "t")
    assert len(set(ws)) == 5000
    assert not set(ws) & (set(PRED_LEXICON) | set(STOP_MENTIONS))


# ------------------------------------------------------------ event log

def _fixture_groups():
    events = [json.loads(line) for line in
              open(os.path.join(HERE, "testdata", "eventlog_small.jsonl"))]
    return tracing.aggregate(events)


def test_event_log_aggregation_per_group():
    g = _fixture_groups()
    assert set(g) == {"neural", "eval"}     # the ungrouped job is ignored
    n, e = g["neural"], g["eval"]
    assert (n["jobs"], n["tasks"], e["jobs"], e["tasks"]) == (5, 6, 4, 5)
    assert round(n["run_s"], 3) == 11.379
    assert round(n["python_s"], 3) == 11.275
    assert n["arrow_bytes"] == 558416
    assert n["shuffle_write_bytes"] == 26109
    assert e["shuffle_read_bytes"] == 90269
    assert round(e["python_s"], 3) == 0.492


def test_merged_and_task_skew():
    g = _fixture_groups()
    both = tracing.merged(g, ["neural", "eval", "absent"])
    assert both["jobs"] == 9 and both["tasks"] == 11
    # eval's only multi-task stage ran tasks of 134 and 150 ms
    assert abs(tracing.task_skew(g["eval"]) - 150 / 142) < 1e-12
    assert tracing.task_skew(tracing.merged(g, [])) == 1.0


# --------------------------------------------------------------- tracer

class _FakeSc:
    def __init__(self):
        self.props = {}

    def getLocalProperty(self, k):
        return self.props.get(k)

    def setLocalProperty(self, k, v):
        if v is None:
            self.props.pop(k, None)
        else:
            self.props[k] = v


class _Owner:
    @staticmethod
    def work(x):
        return x + 1


def test_tracer_spans_groups_and_restore():
    sc = _FakeSc()
    tr = tracing.Tracer(sc, prefix="p/")
    seen = []
    orig = _Owner.work
    tr.patch(_Owner, "work", lambda x: f"w{x}")
    with tr.span("outer"):
        assert _Owner.work(1) == 2
        seen.append(sc.getLocalProperty(tracing.GROUP_KEY))
    assert sc.getLocalProperty(tracing.GROUP_KEY) is None
    assert seen == ["p/outer"]
    assert [(s["name"], s["parent"]) for s in tr.spans] == [("p/w1", "p/outer"),
                                                           ("p/outer", None)]
    assert tr.seconds("p/w1") >= 0 and tr.find("p/outer")["parent"] is None
    tr.restore()
    assert _Owner.work is orig


def test_process_tree_rss():
    assert tracing.tree_rss_bytes(os.getpid()) > 10_000_000


def test_wait_ended_stops_a_process_tree():
    # a shell whose child ignores SIGTERM: the grace period ends, SIGTERM
    # ends the shell, and SIGKILL the child
    p = subprocess.Popen(["sh", "-c", "sh -c 'trap \"\" TERM; sleep 60' & wait"])
    time.sleep(0.3)
    pids = tracing.descendants(os.getpid())
    assert p.pid in pids and len(pids) >= 2
    assert tracing.wait_ended(pids, grace=0.2) == []
    p.wait()
    assert not any(tracing._running(x) for x in pids)


def test_host_unit_and_cpu_seconds():
    u = tracing.host_unit_s(reps=3)
    assert 0.0001 < u < 5.0
    assert tracing.tree_cpu_seconds(os.getpid()) > 0.0


def test_steal_share():
    before = [100, 0, 10, 500, 0, 0, 0, 20, 0, 0]
    after = [160, 0, 20, 520, 0, 0, 0, 30, 0, 0]
    assert tracing.steal_share(before, after) == 10 / 100
    assert 0.0 <= tracing.steal_share(tracing.cpu_times(), tracing.cpu_times()) <= 1.0


# --------------------------------------------------------------- checks

def _md5(s):
    return hashlib.md5(s.encode()).hexdigest()


def test_kg_reference_links_aliases():
    tri = [
        ("c1", 0, 0, 0, "s", "is", "Alpha Beta", "gamma", 1.0),
        ("c1", 1, 0, 0, "s", "was", "alpha beta delta!", "it", 1.0),
        ("c2", 0, 0, 0, "s", "is", "alpha  beta", "gamma", 1.0),
    ]
    ref = checks.kg_reference(tri)
    assert ref["pairs"] == [("alpha beta", "alpha beta delta", 0.666667)]
    comp = {n: c for n, _, c in ref["components"]}
    assert comp == {"alpha beta": "alpha beta", "alpha beta delta": "alpha beta",
                    "gamma": "gamma"}
    assert sorted(ref["nodes"]) == sorted([(_md5("alpha beta"), "alpha beta", 2, 3),
                                           (_md5("gamma"), "gamma", 1, 2)])
    # the 'it' object is a stop mention: that triple yields no edge
    assert len(ref["edges"]) == 2
    assert ref["relations"] == [(_md5("alpha beta"), _md5("gamma"), "is", 2, 2)]


def test_kg_reference_equals_the_duckdb_kg_oracles(tmp_path):
    """The transcription the benchmark checks against, tied to the
    program's own DuckDB KG oracles on the kg_rule corpus. The triples
    oracle is materialized once and each KG oracle's SELECT runs over
    it with the oracle's KG CTEs (the full entries re-derive the
    triples every time, which multiplies the test's time)."""
    import __spark_entry__
    from openie_spark.plans import oracles

    prior, delta, stats = gen.kg_corpus(3)
    assert stats["hot_blocks"] >= 1           # hot-block dropping is covered
    docs = tmp_path / "in"
    gen.write_documents(pa.concat_tables([prior, delta]), str(docs))
    con = checks.duck_connection(str(docs / "documents.parquet"), 4, str(tmp_path))
    ref = checks.reference_hashes(checks.run_oracle(con, "triples"))
    sql = __spark_entry__.oracle_sql()
    con.execute("CREATE TABLE triples AS " + sql["triples_extract"])
    chain = oracles._with_kg("")
    for stage in ("pairs", "components", "nodes", "edges", "relations"):
        name, cols = checks.STAGES[stage]
        assert sql[name].startswith(chain), name
        rows = checks.fetch(con, "WITH RECURSIVE " + oracles._kg_ctes() + "\n"
                            + sql[name][len(chain):], cols)
        assert ref[stage] == checks.value_hash(rows, cols), stage


def test_norm_mention_matches_the_oracle_regex():
    assert checks.norm_mention("  Hello,   World-2 ") == "hello world2"


# ------------------------------------------------------------ contract

_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
_UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_benchmark_json_shape():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert SPEC["paths"] == ["perfbench"]
    assert 2 <= len(SPEC["workloads"]) <= 8
    e2e = {m["name"]: m for m in SPEC["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert len(names) == len(set(names))
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert _NAME.match(m["name"]) and _UNIT.match(m["unit"])
        assert m["better"] in ("lower", "higher")
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25


def _dict_keys(tree: ast.AST, func: str) -> set[str]:
    """String keys of the dict literals inside every ``def func``."""
    keys: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef) and node.name == func:
            for d in ast.walk(node):
                if isinstance(d, ast.Dict):
                    keys |= {k.value for k in d.keys
                             if isinstance(k, ast.Constant) and isinstance(k.value, str)}
    return keys


def test_every_emitted_metric_is_declared_with_its_unit():
    with open(os.path.join(HERE, "run.py")) as fh:
        tree = ast.parse(fh.read())
    per_layer = {m["name"] for m in SPEC["per_layer"]}
    emitted = {k for k in _dict_keys(tree, "layer_metrics") | _dict_keys(tree, "model_timings")
               if "." in k}
    assert emitted <= per_layer
    assert per_layer - emitted == {"session.start_s", "engine.peak_rss_mb"}   # run_benchmark
    e2e = _dict_keys(tree, "end_to_end")
    assert e2e == {m["name"] for m in SPEC["end_to_end"]}
