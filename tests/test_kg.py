"""Entity linking + canonicalization + graph tests (stages F-H)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _vocab(spark, names):
    df = spark.createDataFrame([(n,) for n in names], "norm string")
    return (
        df.groupBy("norm").agg(F.count(F.lit(1)).alias("freq"))
        .withColumn("tokens", F.array_distinct(F.split("norm", " ")))
        .withColumn("n_tokens", F.size("tokens"))
    )


def test_mentions_extract_and_stopwords(spark):
    from openie_spark.kg.mentions import extract_mentions

    triples = spark.createDataFrame(
        [("c0", 0, 0, 0, "John Smith", "a teacher"),
         ("c0", 0, 0, 1, "He", "it"),           # stop mentions → dropped
         ("c0", 0, 1, 0, "", "London")],        # empty subj → dropped
        "conv_id string, turn_idx int, sent_idx int, ext_idx int, subj string, obj string")
    m = extract_mentions(triples)
    got = {(r.side, r.norm) for r in m.collect()}
    assert got == {("subj", "john smith"), ("obj", "a teacher"), ("obj", "london")}


def test_exact_pairs_blocking_and_threshold(spark):
    from openie_spark.kg.linking import exact_pairs

    v = _vocab(spark, [
        "barack obama", "barack h obama",   # share first+last prefixes, high jaccard
        "barack obonga xyz qq ww",          # same block, low jaccard
        "zzz unrelated",
    ])
    got = {(r.a, r.b) for r in exact_pairs(v, threshold=0.5).collect()}
    assert ("barack h obama", "barack obama") in got
    assert all("zzz" not in a and "zzz" not in b for a, b in got)


def test_exact_pairs_skew_cap(spark):
    from openie_spark.kg.linking import exact_pairs, skew_stats

    # 30 mentions all sharing the block key 'f|user' → hot block dropped
    v = _vocab(spark, [f"userx thing{i}" for i in range(30)])
    assert exact_pairs(v, threshold=0.1, max_block=10).count() == 0
    stats = skew_stats(v, max_block=10).collect()[0]
    assert stats.n_hot_blocks >= 1
    assert stats.n_dropped_mentions >= 30


def _plan_nodes(plan):
    """Every node of an executed physical plan, through the adaptive
    wrapper and its query stages."""
    yield plan
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from _plan_nodes(plan.executedPlan())
    elif name.endswith("QueryStageExec"):
        yield from _plan_nodes(plan.plan())
    children = plan.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


def test_exact_pairs_probe_side_keeps_shuffle_partitions(spark):
    """On the sf0.001 vocab the block self-join's probe side has
    spark.sql.shuffle.partitions partitions: the checkpointed block
    table is hash-partitioned on bkey, so AQE cannot coalesce the tiny
    vocab into one partition and verify every candidate in one task."""
    from openie_spark.kg.graph import norm_triples
    from openie_spark.kg.linking import exact_pairs
    from openie_spark.kg.mentions import mention_vocab, mentions_from_norm
    from openie_spark.operators.extract import extract_triples
    from openie_spark.sources.transcripts import read_transcripts

    vocab = mention_vocab(mentions_from_norm(norm_triples(
        extract_triples(read_transcripts(spark, "/root/testdata/sf0.001")))))
    pairs = exact_pairs(vocab)
    assert pairs.collect()
    joins = [p for p in _plan_nodes(pairs._jdf.queryExecution().executedPlan())
             if p.getClass().getSimpleName() == "BroadcastHashJoinExec"]
    assert len(joins) == 1
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert joins[0].streamedPlan().execute().getNumPartitions() == n


def test_minhash_recall_vs_exact(spark):
    """LSH candidates (jaccard-verified) must recover the clear
    duplicate pairs the exact path finds on near-duplicate names."""
    from openie_spark.kg.linking import exact_pairs, minhash_pairs

    names = []
    for i in range(20):
        names.append(f"entity number {i} incorporated")
        names.append(f"entity number {i} inc")  # near-dup alias
    v = _vocab(spark, names)
    exact = {(r.a, r.b) for r in exact_pairs(v, threshold=0.5).collect()}
    mh = {(r.a, r.b) for r in minhash_pairs(v, threshold=0.5).collect()}
    dup_pairs = {p for p in exact if p[0].rsplit(" ", 1)[0] == p[1].rsplit(" ", 1)[0]}
    assert dup_pairs, "fixture must produce exact duplicate pairs"
    recall = len(mh & dup_pairs) / len(dup_pairs)
    assert recall >= 0.8, f"LSH recall {recall} too low: {dup_pairs - mh}"
    # verified candidates are never below threshold → precision vs exact = 1
    assert mh <= exact


def test_connected_components_chain_and_fixpoint(spark):
    from openie_spark.kg.canon import connected_components

    pairs = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 1.0), ("x", "y", 1.0), ("c", "d", 1.0)],
        "a string, b string, jaccard double")
    comp = {r.norm: r.component for r in connected_components(pairs).collect()}
    assert comp == {"a": "a", "b": "a", "c": "a", "d": "a", "x": "x", "y": "x"}


def test_salted_join_equals_plain_join(spark):
    from openie_spark.functions.joins import salted_equi_join

    big = spark.createDataFrame(
        [(k, i) for i, k in enumerate(["hot"] * 50 + ["cold", "warm"] * 5)],
        "k string, v int")
    small = spark.createDataFrame(
        [("hot", 1), ("cold", 2), ("missing", 9)], "k string, w int")
    plain = {(r.k, r.v, r.w) for r in big.join(small, "k").collect()}
    salted = {(r.k, r.v, r.w) for r in salted_equi_join(big, small, "k").collect()}
    assert salted == plain and len(plain) == 55


def test_graph_end_to_end(spark):
    """triples → mentions → pairs → components → nodes/edges, with
    alias merge collapsing near-duplicate entities into one node."""
    from openie_spark.kg.canon import canonical_map, connected_components
    from openie_spark.kg.graph import (
        build_edges_from_norm,
        build_nodes,
        degree_stats,
        norm_triples,
    )
    from openie_spark.kg.linking import exact_pairs
    from openie_spark.kg.mentions import extract_mentions, mention_vocab

    triples = spark.createDataFrame(
        [("c0", 0, 0, 0, "Barack Obama", "was", "president"),
         ("c0", 1, 0, 0, "Barack H Obama", "visited", "London"),
         ("c1", 0, 0, 0, "London", "is", "a city")],
        "conv_id string, turn_idx int, sent_idx int, ext_idx int, subj string, pred string, obj string")
    vocab = mention_vocab(extract_mentions(triples))
    pairs = exact_pairs(vocab, threshold=0.5)
    canon = canonical_map(vocab, connected_components(pairs))
    nodes = build_nodes(canon)
    edges = build_edges_from_norm(norm_triples(triples), canon, strategy="broadcast")

    by_canon = {r.canonical: r for r in nodes.collect()}
    assert "barack h obama" in by_canon
    assert set(by_canon["barack h obama"].aliases) == {"barack obama", "barack h obama"}

    e = edges.collect()
    assert len(e) == 3
    # the two obama triples share one src entity id
    srcs = {r.conv_id: r.src_id for r in e}
    assert srcs["c0"] is not None
    obama_edges = [r for r in e if r.conv_id == "c0"]
    assert len({r.src_id for r in obama_edges}) == 1

    # salted strategy produces identical edges
    salted = build_edges_from_norm(norm_triples(triples), canon, strategy="salted")
    assert {tuple(r) for r in salted.collect()} == {tuple(r) for r in e}

    deg = {r.entity_id: (r.out_deg, r.in_deg) for r in degree_stats(edges).collect()}
    london_id = [r.entity_id for r in nodes.collect() if r.canonical == "london"][0]
    assert deg[london_id] == (1, 1)


def test_component_determinism(spark):
    from openie_spark.kg.canon import connected_components

    pairs = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}", 1.0) for i in range(0, 40, 2)] +
        [(f"n{i}", f"n{i+2}", 1.0) for i in range(0, 38, 2)],
        "a string, b string, jaccard double")
    c1 = sorted(map(tuple, connected_components(pairs).collect()))
    c2 = sorted(map(tuple, connected_components(pairs).collect()))
    assert c1 == c2


def test_norm_impls_agree(spark):
    """The codegen char-filter normalizer (query path) and the Arrow
    pandas normalizer (pipeline hot path) must be interchangeable."""
    from pyspark.sql import functions as F

    from openie_spark.kg.mentions import norm_mention_col, norm_mention_udf
    from openie_spark.operators.extract import extract_triples
    from openie_spark.sources.transcripts import read_transcripts

    t = extract_triples(read_transcripts(spark, "/root/testdata/sf0.001"))
    hostile = spark.createDataFrame(
        [("", ""), ("  ", "\t"), ("!!!", "a  b   c"), ("MiXeD CaSe!", "x-y_z.9"),
         ("tab\tand\nnewline", " lead and trail ")],
        "subj string, obj string")
    probe = t.select("subj", "obj").unionByName(hostile)
    udf = norm_mention_udf()
    diff = probe.select(
        F.when(norm_mention_col(F.col("subj")) != udf("subj"), 1).otherwise(0).alias("d1"),
        F.when(norm_mention_col(F.col("obj")) != udf("obj"), 1).otherwise(0).alias("d2"),
    ).agg(F.sum("d1").alias("a"), F.sum("d2").alias("b")).collect()[0]
    assert (diff.a, diff.b) == (0, 0)


def test_cc_driver_and_distributed_agree(spark):
    """The scale-adaptive union-find and the iterative min-label joins
    must produce the identical (norm, component) labeling."""
    from openie_spark.kg.canon import connected_components

    pairs = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("x", "y"), ("q", "q2"), ("y", "z"), ("m", "n"), ("n", "a")],
        "a string, b string")
    fast = {(r.norm, r.component) for r in connected_components(pairs).collect()}
    slow = {(r.norm, r.component)
            for r in connected_components(pairs, driver_threshold=0).collect()}
    assert fast == slow
    comp = dict(fast)
    assert comp["c"] == "a" and comp["m"] == "a" and comp["z"] == "x" and comp["q2"] == "q"


def test_cc_driver_builds_a_local_frame(spark):
    """The driver route's labeling is built from an Arrow table: a local
    relation with the (norm, component) nullable-string schema, for
    empty input and long ids too, whose building and collecting run no
    Spark job."""
    from pyspark.sql.types import StringType, StructField, StructType

    from openie_spark.kg.canon import _cc_driver

    sc = spark.sparkContext
    group = "cc-driver-guard"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        full = _cc_driver(spark, [("b", "a"), ("c", "b"), ("x", "y")])
        empty = _cc_driver(spark, [])
        ids = _cc_driver(spark, [(12, 3), (3, 20)])
        got, got_empty = sorted(map(tuple, full.collect())), empty.collect()
        got_ids = sorted(map(tuple, ids.collect()))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    schema = StructType([StructField("norm", StringType()),
                         StructField("component", StringType())])
    assert full.schema == empty.schema == ids.schema == schema
    assert got == [("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")]
    assert got_empty == []
    # long ids (the dedup callers) keep their string form and numeric min
    assert got_ids == [("12", "3"), ("20", "3"), ("3", "3")]


def test_editdist_pairs_typo_tolerance(spark):
    """Levenshtein verification catches surface-form noise token
    Jaccard misses, respects the threshold, and dedups blocks."""
    from openie_spark.kg.linking import editdist_pairs, exact_pairs

    v = _vocab(spark, [
        "spark engine", "spark enginee",      # dist 1, same f| block
        "spark motor",                        # dist > 3 from both
        "acount admin", "account admin",      # dist 1 (typo in token 1)
        "zzz unrelated",
    ])
    got = {(r.a, r.b): r.dist for r in editdist_pairs(v).collect()}
    assert got[("spark engine", "spark enginee")] == 1
    assert got[("account admin", "acount admin")] == 1   # a < b: 'acc' < 'aco'
    assert not any("spark motor" in k or "zzz unrelated" in k for k in got)
    # whole-token typo: token-Jaccard path must miss it, editdist nets it
    ex = {(r.a, r.b) for r in exact_pairs(v).collect()}
    assert ("account admin", "acount admin") not in ex


def test_editdist_pairs_threshold_boundary(spark):
    from openie_spark.kg.linking import editdist_pairs

    v = _vocab(spark, ["abcd x", "abcd xyzw"])   # dist exactly 3
    got = {(r.a, r.b): r.dist for r in editdist_pairs(v, max_dist=3).collect()}
    assert got == {("abcd x", "abcd xyzw"): 3}
    assert editdist_pairs(v, max_dist=2).count() == 0


def test_pair_generation_audit_counts(spark):
    """One-row recall audit: TP/extra bookkeeping over a full outer
    join of the two pair tables, exact round-half-up ppm recall."""
    from openie_spark.kg.linking import pair_generation_audit

    ex = spark.createDataFrame(
        [("a", "b", 0.9), ("a", "c", 0.8)], "a string, b string, jaccard double")
    cand = spark.createDataFrame(
        [("a", "b", 0.9), ("x", "y", 0.7)], "a string, b string, jaccard double")
    r = pair_generation_audit(ex, cand).collect()[0]
    assert (r.n_exact, r.n_candidate, r.n_both, r.recall_ppm, r.n_extra) == \
        (2, 2, 1, 500000, 1)


def test_pair_generation_audit_perfect_recall(spark):
    """candidate == exact -> recall exactly 1e6, zero extras."""
    from openie_spark.kg.linking import pair_generation_audit

    ex = spark.createDataFrame(
        [("a", "b", 0.9), ("b", "c", 1.0)], "a string, b string, jaccard double")
    r = pair_generation_audit(ex, ex).collect()[0]
    assert (r.n_exact, r.n_candidate, r.n_both, r.recall_ppm, r.n_extra) == \
        (2, 2, 2, 1000000, 0)


def test_skew_stats_counts_hot_blocks(spark):
    """skew_stats: blocks over the cap counted with their mention
    mass; the same keys exact_pairs blocks on."""
    from openie_spark.kg.linking import skew_stats

    # 4 norms sharing first-token prefix 'alph' -> one hot block at
    # max_block=3; their last tokens differ so l| blocks stay cold.
    vocab = spark.createDataFrame(
        [(f"alpha w{i}", 1, ["alpha", f"w{i}"], 2) for i in range(4)],
        "norm string, freq long, tokens array<string>, n_tokens int")
    r = skew_stats(vocab, max_block=3).collect()[0]
    # blocks: f|alph (4 members, hot) + l|w0..w3 (4 singleton blocks)
    assert (r.n_blocks, r.n_hot_blocks, r.n_dropped_mentions) == (5, 1, 4)
