"""Physical-plan regression guards: the scale properties PLANS.md
audits are asserted here for key queries so a refactor cannot silently
reintroduce a cross join, an unpruned scan, or a per-row Python eval.
explain()-only — no query executes — except the carb co-partitioning
guard, which reads the final adaptive plan."""

from __future__ import annotations

import contextlib
import io
import os
import re

import pytest

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _count(plan: str, pat: str) -> int:
    return len(re.findall(pat, plan))


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def entry(spark):
    import importlib.util
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__",
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_rule_extraction_is_pure_codegen(spark, entry):
    """The default extraction path must stay JVM-side: zero Python
    eval nodes, zero joins, scan pruned to the needed columns."""
    plan = _plan(entry.queries()["triples_extract"](spark, SF))
    assert _count(plan, r"ArrowEvalPython|BatchEvalPython|MapInPandas") == 0
    assert _count(plan, r"Join") == 0
    assert "ReadSchema" in plan


def test_no_nested_loop_joins_on_scale_paths(spark, entry):
    """The minhash-LSH pair paths exist to avoid the quadratic join —
    a BroadcastNestedLoopJoin/CartesianProduct appearing there means
    the bucketing broke."""
    qs = entry.queries()
    for name in ("kg_conv_neardup", "kg_pairs_minhash"):
        plan = _plan(qs[name](spark, SF))
        assert _count(plan, r"CartesianProduct|BroadcastNestedLoopJoin") == 0, name


def test_hll_registers_are_pure_codegen_group(spark):
    """hll_distinct's point is the bounded register aggregation:
    no Python stage, no sort/window, no join anywhere in the plan."""
    from openie_spark.datapipe.textstats import hll_distinct

    plan = _plan(hll_distinct(_docs(spark)))
    assert _count(plan, r"ArrowEvalPython|BatchEvalPython|MapInPandas") == 0
    assert _count(plan, r"CartesianProduct|BroadcastNestedLoopJoin") == 0
    assert _count(plan, r"\bWindow\b") == 0
    assert _count(plan, r"\bJoin\b") == 0


def test_entity_types_is_map_only(spark, entry):
    """Typing is a projection over the memoized nodes table — zero
    exchanges of its own."""
    plan = _plan(entry.queries()["kg_entity_types"](spark, SF))
    assert _count(plan, r"\bExchange\b") == 0
    assert _count(plan, r"ArrowEvalPython|BatchEvalPython|MapInPandas") == 0


def test_salience_has_exactly_one_scalar_broadcast(spark, entry):
    """kg_salience attaches the global conversation total via ONE
    1-row broadcast cross join; everything else must stay equi-join
    (a second NLJ would mean the tf/idf join degraded)."""
    plan = _plan(entry.queries()["kg_salience"](spark, SF))
    # formatted explain prints every node twice (tree + detail block)
    assert _count(plan, r"BroadcastNestedLoopJoin") == 2
    assert _count(plan, r"CartesianProduct") == 0


def test_winnow_is_map_only(spark):
    """Winnowing must stay embarrassingly parallel: no Exchange, no
    Python stage, no join — and the k-gram hash array must be owned by
    a Generate barrier (md5 once per gram, not re-inlined per window)."""
    from openie_spark.datapipe.textstats import winnow_fingerprints

    plan = _plan(winnow_fingerprints(_docs(spark)))
    assert _count(plan, r"\bExchange\b") == 0
    assert _count(plan, r"ArrowEvalPython|BatchEvalPython|MapInPandas") == 0
    assert _count(plan, r"\bJoin\b") == 0


def test_coref_is_single_window_no_join(spark, entry):
    """Coref-lite must stay ONE conv-partitioned window: no joins, no
    Python stage beyond the memoized input."""
    plan = _plan(entry.queries()["kg_coref"](spark, SF))
    assert _count(plan, r"\bJoin\b") == 0
    assert _count(plan, r"\bWindow\b") > 0
    assert _count(plan, r"CartesianProduct|BroadcastNestedLoopJoin") == 0


def test_topic_segments_single_exchange(spark, entry):
    """One conv window serves lag + running sum: exactly one shuffle
    (x2 in formatted output), no joins, no Python."""
    plan = _plan(entry.queries()["kg_topic_segments"](spark, SF))
    assert _count(plan, r"\bExchange\b") == 2
    assert _count(plan, r"\bJoin\b") == 0
    assert _count(plan, r"ArrowEvalPython|BatchEvalPython|MapInPandas") == 0


def test_metapaths_all_equi_joins_and_capped_windows(spark, entry):
    """Every metapath join must be an equi-join (AQE picks
    broadcast/SMJ by size at runtime; a nested-loop would mean the
    canon or type attach degenerated), and the hub caps must compile
    to WindowGroupLimit (partial per-partition top-k BEFORE the
    shuffle — the cap does its work map-side)."""
    plan = _plan(entry.queries()["kg_metapaths"](spark, SF))
    assert _count(plan, r"CartesianProduct|BroadcastNestedLoopJoin") == 0
    assert _count(plan, r"WindowGroupLimit") >= 2


def _plan_nodes(node):
    """Executed-plan children, through AQE wrappers and query stages
    (an InMemoryTableScan is a leaf: its cached plan is not walked)."""
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        return [node.executedPlan()]
    if name.endswith("QueryStage"):
        return [node.plan()]
    ch = node.children()
    return [ch.apply(i) for i in range(ch.size())]


def _subtree_names(node) -> list[str]:
    return [node.nodeName()] + [n for c in _plan_nodes(node) for n in _subtree_names(c)]


def _find(node, name: str):
    if node.nodeName() == name:
        return node
    for c in _plan_nodes(node):
        hit = _find(c, name)
        if hit is not None:
            return hit
    return None


@pytest.mark.parametrize("query", ["carb_score_degraded", "carb_pr_sweep"])
def test_carb_cogroup_reads_the_cached_eval_tables_without_exchange(spark, entry, query):
    """carb_gold is repartitioned on the scorers' sentence bucket, so
    the bucket cogroup starts from co-partitioned cached children: no
    Exchange between the cached tables and FlatMapCoGroupsInPandas.
    Executes the query (AQE plans are final only after a run)."""
    df = entry.queries()[query](spark, SF)
    df.collect()
    cogroup = _find(df._jdf.queryExecution().executedPlan(), "FlatMapCoGroupsInPandas")
    assert cogroup is not None
    names = _subtree_names(cogroup)
    assert names.count("InMemoryTableScan") == 2
    assert not [n for n in names if "Exchange" in n], names
