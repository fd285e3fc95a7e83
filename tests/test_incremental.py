"""Incremental KG construction (kg/incremental.py): every merge stage
is pinned EXACTLY equal to the full recompute — unit algebra, a
randomized property over the touched-block pair recompute (including
hot-block cap transitions), and an end-to-end chained-increment
pipeline equivalence at sf0.001."""

from __future__ import annotations

import json
import os
import random

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _mk_vocab(spark, rows):
    """rows: [(norm, freq)] → mention_vocab-shaped frame (tokens and
    n_tokens are pure functions of norm, same expressions as
    mentions.mention_vocab)."""
    df = spark.createDataFrame(rows, "norm string, freq long")
    return (
        df.withColumn("tokens", F.array_distinct(F.split("norm", " ")))
        .withColumn("n_tokens", F.size("tokens"))
    )


def _pair_set(df):
    return {(r.a, r.b, round(r.jaccard, 9)) for r in df.collect()}


# ------------------------------------------------- pairs: property


def _random_norms(rng, n):
    toks = ["acme", "acme corp", "corp", "inc", "apex", "apex labs",
            "labs", "globex", "globe", "tech", "co", "acne"]
    out = set()
    while len(out) < n:
        k = rng.randint(1, 3)
        out.add(" ".join(rng.choice(toks) for _ in range(k)))
    return sorted(out)


@pytest.mark.parametrize("seed", [7, 41, 1999])
def test_incremental_pairs_equal_full_recompute_randomized(spark, seed):
    """incremental_exact_pairs(old ⊎ delta) ≡ exact_pairs(merged) on
    randomized vocabularies with a tiny block cap, so blocks cross the
    hot threshold BETWEEN the old run and the merge — the equivalence
    proof's hairiest branch."""
    from openie_spark.kg.incremental import incremental_exact_pairs, merge_vocab
    from openie_spark.kg.linking import exact_pairs

    rng = random.Random(seed)
    norms = _random_norms(rng, 60)
    rng.shuffle(norms)
    cut = len(norms) // 2
    old_rows = [(n, rng.randint(1, 5)) for n in norms[:cut]]
    # delta re-mentions some old norms (freq-only change) + new norms
    delta_rows = [(n, rng.randint(1, 5)) for n in norms[cut:]] + \
        [(n, 1) for n in norms[: cut // 4]]

    old_v = _mk_vocab(spark, old_rows)
    merged = merge_vocab(old_v, _mk_vocab(spark, delta_rows))
    for cap in (4, 1000):
        full = exact_pairs(merged, max_block=cap)
        inc = incremental_exact_pairs(
            exact_pairs(old_v, max_block=cap), old_v, merged, max_block=cap)
        assert _pair_set(inc) == _pair_set(full)


def test_incremental_pairs_hot_block_transition(spark):
    """A block under the cap in the old run goes hot after the delta:
    the full recompute drops its pairs, and the incremental path must
    drop them too (old pairs are NOT blindly kept)."""
    from openie_spark.kg.incremental import incremental_exact_pairs, merge_vocab
    from openie_spark.kg.linking import exact_pairs

    cap = 3
    old_v = _mk_vocab(
        spark, [("acme corp", 2), ("acme corp inc", 1), ("acme", 4)])
    old_pairs = exact_pairs(old_v, max_block=cap)
    assert _pair_set(old_pairs)  # the f|acme block produced a pair pre-merge

    merged = merge_vocab(old_v, _mk_vocab(spark, [("acme labs", 1), ("acme co", 1)]))
    full = exact_pairs(merged, max_block=cap)
    inc = incremental_exact_pairs(old_pairs, old_v, merged, max_block=cap)
    assert _pair_set(inc) == _pair_set(full)
    # the f|acme block (5 members) is hot; every pair it carried is gone
    assert not {p for p in _pair_set(inc) if p[0].startswith("acme")}


# -------------------------------------------- components and remap


def test_merge_components_bridges_old_components(spark):
    """A delta pair bridging two OLD components merges them under the
    global min label — identical to CC over the full pair set."""
    from openie_spark.kg.canon import canonical_map, connected_components
    from openie_spark.kg.incremental import merge_components

    vocab = _mk_vocab(
        spark, [("alpha", 1), ("beta", 1), ("gamma", 1), ("delta", 1), ("zed", 1)])
    old_pairs = spark.createDataFrame(
        [("alpha", "beta", 1.0), ("delta", "gamma", 1.0)],
        "a string, b string, jaccard double")
    old_canon = canonical_map(vocab, connected_components(old_pairs))

    bridge = spark.createDataFrame(
        [("beta", "gamma", 1.0)], "a string, b string, jaccard double")
    merged = merge_components(old_canon, bridge)
    labels = {r.norm: r.component for r in merged.collect()}
    assert labels == {"alpha": "alpha", "beta": "alpha",
                      "gamma": "alpha", "delta": "alpha"}

    full = connected_components(old_pairs.unionByName(bridge))
    assert {(r.norm, r.component) for r in full.collect()} == set(labels.items())


def test_entity_remap_and_edge_rewrite(spark):
    """When components merge, old edges rewritten through the
    broadcast remap equal edges built fresh against the merged canon —
    including entities that were singletons before the merge."""
    from openie_spark.kg.canon import canonical_map, connected_components
    from openie_spark.kg.incremental import (
        entity_remap,
        merge_components,
        remap_edges,
        remap_is_identity,
    )

    vocab = _mk_vocab(spark, [("alpha", 1), ("beta", 1), ("solo", 1)])
    old_pairs = spark.createDataFrame(
        [("alpha", "beta", 1.0)], "a string, b string, jaccard double")
    old_canon = canonical_map(vocab, connected_components(old_pairs))
    # old entities: component 'alpha' (alpha+beta) and singleton 'solo'
    new_canon = canonical_map(
        vocab,
        merge_components(
            old_canon,
            spark.createDataFrame([("beta", "aaa", 1.0)],
                                  "a string, b string, jaccard double")))
    remap = entity_remap(old_canon, new_canon)
    assert not remap_is_identity(remap)
    got = {(r.entity_id, r.new_entity_id) for r in remap.collect()}

    md5 = lambda s: __import__("hashlib").md5(s.encode()).hexdigest()
    assert (md5("alpha"), md5("aaa")) in got       # merged component moved
    assert (md5("solo"), md5("solo")) in got       # singleton: identity

    old_edges = spark.createDataFrame(
        [(md5("alpha"), md5("solo"), "likes", "c1", 0, 0, 0)],
        "src_id string, dst_id string, pred string, conv_id string, "
        "turn_idx int, sent_idx int, ext_idx int")
    out = remap_edges(old_edges, remap).collect()
    assert [(r.src_id, r.dst_id) for r in out] == [(md5("aaa"), md5("solo"))]


def test_merge_relations_additive_fast_path(spark):
    """Identity remap + disjoint delta convs → the compact additive
    merge equals a recompute over the unioned edge table."""
    from openie_spark.kg.analytics import relation_weights
    from openie_spark.kg.incremental import merge_relations

    schema = ("src_id string, dst_id string, pred string, conv_id string, "
              "turn_idx int, sent_idx int, ext_idx int")
    old_edges = spark.createDataFrame(
        [("s", "d", "p", "c1", 0, 0, 0), ("s", "d", "p", "c2", 0, 0, 0)], schema)
    delta_edges = spark.createDataFrame(
        [("s", "d", "p", "c3", 0, 0, 0), ("x", "y", "q", "c3", 1, 0, 0)], schema)
    identity = spark.createDataFrame(
        [("s", "s"), ("d", "d"), ("x", "x"), ("y", "y")],
        "entity_id string, new_entity_id string")

    merged_edges = old_edges.unionByName(delta_edges)
    got = merge_relations(
        relation_weights(old_edges), identity, delta_edges, merged_edges)
    want = relation_weights(merged_edges)
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}


# ------------------------------------------------------ end-to-end


@pytest.fixture(scope="module")
def split_inputs(spark, tmp_path_factory):
    """sf0.001 transcripts split 3 ways by conv-hash; each slice is a
    self-contained input dir (transcripts.parquet)."""
    from openie_spark.sources.transcripts import read_transcripts

    t = read_transcripts(spark, SF)
    part = F.conv(F.substring(F.md5("conv_id"), 32, 1), 16, 10).cast("int") % 3
    dirs = []
    for i in range(3):
        d = str(tmp_path_factory.mktemp(f"slice{i}"))
        t.filter(part == i).write.mode("overwrite").parquet(
            os.path.join(d, "transcripts.parquet"))
        dirs.append(d)
    return dirs


def _table(spark, out_dir, name, drop=("bucket",)):
    df = spark.read.parquet(os.path.join(out_dir, name))
    for c in drop:
        if c in df.columns:
            df = df.drop(c)
    df = df.select(*sorted(df.columns))
    freeze = lambda v: tuple(v) if isinstance(v, list) else v
    return {tuple(freeze(v) for v in r) for r in df.collect()}


@pytest.fixture(scope="module")
def chained_run(spark, split_inputs, tmp_path_factory):
    from openie_spark.pipeline import KGPipeline

    full_out = str(tmp_path_factory.mktemp("full"))
    base_out = str(tmp_path_factory.mktemp("base"))
    inc1_out = str(tmp_path_factory.mktemp("inc1"))
    inc2_out = str(tmp_path_factory.mktemp("inc2"))

    all_dir = str(tmp_path_factory.mktemp("all"))
    spark.read.parquet(*[os.path.join(d, "transcripts.parquet")
                         for d in split_inputs]) \
        .write.mode("overwrite").parquet(os.path.join(all_dir, "transcripts.parquet"))

    KGPipeline(spark, all_dir, full_out).run(resume=True)
    KGPipeline(spark, split_inputs[0], base_out).run(resume=True)
    s1 = KGPipeline(spark, split_inputs[1], inc1_out).run_incremental(
        prior_dir=base_out, resume=True)
    s2 = KGPipeline(spark, split_inputs[2], inc2_out).run_incremental(
        prior_dir=inc1_out, resume=True)
    return full_out, inc2_out, s1, s2


def test_chained_increments_equal_full_rebuild(spark, chained_run):
    """THE invariant: base(⅓) + increment(⅓) + increment(⅓) produces
    byte-identical vocab/pairs/components/nodes/edges/relations tables
    to one full run over all conversations (pairs with jaccard rounded,
    as in ``_pair_set``)."""
    full_out, inc2_out, _, _ = chained_run
    for name in ("vocab", "components", "nodes", "edges", "relations"):
        assert _table(spark, full_out, name) == _table(spark, inc2_out, name), name
    pairs = [_pair_set(spark.read.parquet(os.path.join(d, "pairs")))
             for d in (full_out, inc2_out)]
    assert pairs[0] and pairs[0] == pairs[1]


def test_incremental_summary_and_manifests(chained_run):
    full_out, inc2_out, s1, s2 = chained_run
    assert s2["mode"] == "incremental"
    assert s2["delta_triples"] > 0
    with open(os.path.join(inc2_out, "pairs", "_manifest.json")) as f:
        man = json.load(f)
    assert man["fingerprint"]["delta"] is True
    assert man["fingerprint"]["prior"]["pairs"]  # prior write_id pinned
    # the final merged graph matches the full run's summary counts
    with open(os.path.join(full_out, "_pipeline_summary.json")) as f:
        full_sum = json.load(f)
    assert s2["nodes"] == full_sum["nodes"]
    assert s2["edges"] == full_sum["edges"]


def test_incremental_summary_counts_are_the_table_counts(spark, chained_run):
    """Each increment's summary counts equal the counts of the tables it
    wrote (the delta's triples, the merged graph)."""
    _, inc2_out, s1, s2 = chained_run
    for summary, out in ((s1, s2["prior_dir"]), (s2, inc2_out)):
        assert summary["delta_triples"] == spark.read.parquet(
            os.path.join(out, "triples")).count()
        for name in ("nodes", "edges", "relations"):
            assert summary[name] == spark.read.parquet(os.path.join(out, name)).count(), name


def test_incremental_rejects_a_prior_stage_without_manifest(spark, split_inputs,
                                                            chained_run, tmp_path):
    """A prior output whose edges manifest is missing (a run killed
    while writing edges) is not merged against: the merge names the
    incomplete stage instead of pinning a missing write_id."""
    import shutil

    from openie_spark.pipeline import KGPipeline

    _, _, s1, _ = chained_run
    prior = str(tmp_path / "prior")
    shutil.copytree(s1["prior_dir"], prior)
    os.remove(os.path.join(prior, "edges", "_manifest.json"))
    with pytest.raises(ValueError, match="'edges'"):
        KGPipeline(spark, split_inputs[1], str(tmp_path / "out")).run_incremental(
            prior_dir=prior, resume=True)


def test_incremental_rejects_a_prior_manifest_without_schema(spark, split_inputs,
                                                            chained_run, tmp_path):
    """A prior manifest that records no schema (written before manifests
    carried one) is rejected like a missing one: the prior tables are
    read with their recorded schemas, never by inference."""
    import shutil

    from openie_spark.pipeline import KGPipeline

    _, _, s1, _ = chained_run
    prior = str(tmp_path / "prior")
    shutil.copytree(s1["prior_dir"], prior)
    pipe = KGPipeline(spark, split_inputs[1], str(tmp_path / "out"))
    man = pipe._read_manifest("edges", prior)
    del man["schema"]
    pipe._write_text(pipe._manifest_path("edges", prior), json.dumps(man))
    with pytest.raises(ValueError, match="'edges'"):
        pipe.run_incremental(prior_dir=prior, resume=True)


def test_incremental_resume_skips_everything(spark, split_inputs, chained_run):
    from openie_spark.pipeline import KGPipeline

    _, inc2_out, _, _ = chained_run
    pipe = KGPipeline(spark, split_inputs[2], inc2_out)
    # prior is inc1's output — recover it from the written summary
    with open(os.path.join(inc2_out, "_pipeline_summary.json")) as f:
        prior_dir = json.load(f)["prior_dir"]
    pipe.run_incremental(prior_dir=prior_dir, resume=True)
    assert all(r.resumed for r in pipe.results)


def test_incremental_rejects_overlapping_convs(spark, split_inputs,
                                               chained_run, tmp_path_factory):
    """The disjoint-conv contract is guarded: replaying an already-
    ingested slice as a delta fails loudly."""
    from openie_spark.pipeline import KGPipeline

    _, inc2_out, _, _ = chained_run
    out = str(tmp_path_factory.mktemp("bad"))
    with pytest.raises(ValueError, match="conv_ids"):
        KGPipeline(spark, split_inputs[0], out).run_incremental(
            prior_dir=inc2_out, resume=True)


@pytest.mark.parametrize("flag", ["analytics", "export", "enrich"])
def test_incremental_rejects_unmerged_stage_flags(spark, flag, tmp_path):
    """The analytics/export/enrich rows are not merged: asking for them
    in an incremental run fails loudly instead of being ignored."""
    from openie_spark.pipeline import KGPipeline

    pipe = KGPipeline(spark, SF, str(tmp_path / "out"), **{flag: True})
    with pytest.raises(ValueError, match="merges the KG stages only"):
        pipe.run_incremental(prior_dir=str(tmp_path / "prior"))
