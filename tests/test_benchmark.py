"""E7 compare-driver parity: oie16_compare and the CaRB o2o recall
strategy vs the IMPORTED reference benchmark
(/root/reference/eval/oie_eval/benchmark.py), same pattern as
test_alt_matchers_parity_randomized. The reference's sklearn import is
stubbed with our numpy twins — which is why the twins themselves are
pinned first against hand-computed sklearn outputs."""

from __future__ import annotations

import os
import random
import sys
import types

import numpy as np
import pytest

REF = "/root/reference"


def _load_reference_benchmark():
    """Import the reference Benchmark with absent deps stubbed
    (docopt/ipdb unused at call time; sklearn.metrics replaced by the
    numpy twins pinned in test_pr_curve_np_hand_values)."""
    if not os.path.isdir(os.path.join(REF, "eval", "oie_eval")):
        pytest.skip("reference tree not available")
    from openie_spark.eval.benchmark import auc_np, precision_recall_curve_np

    docopt_mod = types.ModuleType("docopt")
    docopt_mod.docopt = lambda *a, **k: {}
    sys.modules.setdefault("docopt", docopt_mod)
    sys.modules.setdefault("ipdb", types.ModuleType("ipdb"))
    nltk = types.ModuleType("nltk")
    translate = types.ModuleType("nltk.translate")
    bleu = types.ModuleType("nltk.translate.bleu_score")
    bleu.sentence_bleu = None
    nltk.translate = translate
    translate.bleu_score = bleu
    sys.modules.setdefault("nltk", nltk)
    sys.modules.setdefault("nltk.translate", translate)
    sys.modules.setdefault("nltk.translate.bleu_score", bleu)
    if "sklearn.metrics" not in sys.modules:
        sk = types.ModuleType("sklearn")
        met = types.ModuleType("sklearn.metrics")
        met.precision_recall_curve = (
            lambda yt, ys: precision_recall_curve_np(yt, ys))
        met.auc = lambda x, y: auc_np(x, y)
        sk.metrics = met
        sys.modules["sklearn"] = sk
        sys.modules["sklearn.metrics"] = met
    sys.path.insert(0, os.path.join(REF, "eval", "oie_eval"))
    import importlib

    bm = importlib.import_module("benchmark")
    mt = importlib.import_module("matcher")
    return bm.Benchmark, mt.Matcher


class _Ex:
    """Duck-typed reference Extraction (oie_readers/extraction.py)."""

    def __init__(self, pred, args, confidence=1.0):
        self.pred = pred
        self.args = list(args)
        self.confidence = confidence
        self.matched = []

    def elementToStr(self, elem):
        return str(elem)

    def bow(self):
        return " ".join([self.elementToStr(e) for e in [self.pred] + self.args])


def test_pr_curve_np_hand_values():
    """Pin the sklearn twin against hand-computed
    precision_recall_curve output (the public algorithm):
    y=[1,0,1,1,0], s=[.9,.8,.7,.7,.5] → thresholds [.7,.8,.9],
    p=[0.75,0.5,1,1], r=[1,1/3,1/3,0]."""
    from openie_spark.eval.benchmark import auc_np, precision_recall_curve_np

    p, r, t = precision_recall_curve_np([1, 0, 1, 1, 0],
                                        [0.9, 0.8, 0.7, 0.7, 0.5])
    assert t.tolist() == [0.7, 0.8, 0.9]
    assert p.tolist() == [0.75, 0.5, 1.0, 1.0]
    assert r.tolist() == pytest.approx([1.0, 1 / 3, 1 / 3, 0.0])
    # all-negative labels: tps[-1]==0 → recall ones, curve collapses
    # to the highest threshold (sklearn's last_ind slice)
    p0, r0, _ = precision_recall_curve_np([0, 0], [0.9, 0.1])
    assert p0.tolist() == [0.0, 1.0] and r0.tolist() == [1.0, 0.0]
    assert auc_np([0.0, 0.5, 1.0], [1.0, 0.8, 0.6]) == pytest.approx(0.8)


def _rand_corpus(rng, n_sents, vocab, max_gold=3, max_pred=4):
    """Synthetic tuples with overlapping token content and varied
    confidences. Returns (gold_rows, pred_rows) with ext_order."""
    gold_rows, pred_rows = [], []
    for s in range(n_sents):
        sent = f"S{s} " + " ".join(rng.choices(vocab, k=5)) + " ."
        for gi in range(rng.randint(1, max_gold)):
            pred = " ".join(rng.choices(vocab, k=rng.randint(1, 2)))
            args = [" ".join(rng.choices(vocab, k=rng.randint(1, 3)))
                    for _ in range(rng.randint(1, 3))]
            gold_rows.append((sent, pred, args, gi))
        if rng.random() < 0.15:
            continue  # gold-only sentence
        for pi in range(rng.randint(1, max_pred)):
            if rng.random() < 0.55 and gold_rows and gold_rows[-1][0] == sent:
                # partially copy a gold tuple so real matches occur
                src = rng.choice([g for g in gold_rows if g[0] == sent])
                pred, args = src[1], [
                    a if rng.random() < 0.8 else rng.choice(vocab)
                    for a in src[2]]
            else:
                pred = " ".join(rng.choices(vocab, k=rng.randint(1, 2)))
                args = [" ".join(rng.choices(vocab, k=rng.randint(1, 3)))
                        for _ in range(rng.randint(1, 3))]
            conf = round(rng.choice([0.3, 0.5, 0.7, 0.9, rng.random()]), 3)
            pred_rows.append((sent, pred, args, conf, pi))
    return gold_rows, pred_rows


def test_oie16_compare_parity_vs_reference(spark, tmp_path):
    """oie16_compare vs the imported reference Oie16_compare on three
    randomized corpora: auc, optimal point, and the matched/unmatched
    counters must agree."""
    from openie_spark.eval.benchmark import oie16_compare
    from openie_spark.eval.matcher import lexical_match

    Benchmark, Matcher = _load_reference_benchmark()
    vocab = ["John", "Mary", "the", "of", "is", "ran", "said", "be",
             "was", "tall", "baker", "to", "London", "cat"]

    for seed in (11, 23, 47):
        rng = random.Random(seed)
        gold_rows, pred_rows = _rand_corpus(rng, 30, vocab)

        # ---- reference run (fresh _Ex objects: matching mutates them)
        b = Benchmark.__new__(Benchmark)
        b.gold = {}
        for sent, pr, ar, _ in gold_rows:
            b.gold.setdefault(sent, []).append(_Ex(pr, ar))
        predicted = {}
        for sent, pr, ar, conf, _ in pred_rows:
            predicted.setdefault(sent, []).append(_Ex(pr, ar, conf))
        want_auc, want_opt = b.Oie16_compare(
            predicted, str(tmp_path / f"ref{seed}.txt"),
            matchingFunc=Matcher.lexicalMatch)

        # ---- ours
        gold = spark.createDataFrame(
            gold_rows,
            "sent string, pred string, args array<string>, ext_order long")
        pred = spark.createDataFrame(
            pred_rows,
            "sent string, pred string, args array<string>, "
            "confidence double, ext_order long")
        got = oie16_compare(gold, pred, match_fn=lexical_match)

        assert got["auc"] == pytest.approx(float(want_auc), abs=1e-9), seed
        assert got["optimal"] == pytest.approx(
            tuple(float(v) for v in want_opt), abs=1e-6), seed


def test_oie16_ext_order_sets_the_consumption_order(spark):
    """A prediction, once matched, is consumed: with ``ext_order`` the
    first prediction in extraction order takes the gold match; without
    it the content sort (confidence last) decides. Both predictions
    match the one gold tuple, so the order alone moves the optimum."""
    from openie_spark.eval.benchmark import oie16_compare

    gold = spark.createDataFrame(
        [("A is B .", "is", ["A", "B"], 0)],
        "sent string, pred string, args array<string>, ext_order long")
    pred = spark.createDataFrame(
        [("A is B .", "is", ["A", "B"], 0.9, 0),
         ("A is B .", "is", ["A", "B"], 0.2, 1)],
        "sent string, pred string, args array<string>, confidence double, "
        "ext_order long")
    ordered = oie16_compare(gold, pred)
    assert ordered["optimal"] == (1.0, 1.0, 1.0)
    assert ordered["auc"] == pytest.approx(1.0)
    by_content = oie16_compare(gold.drop("ext_order"), pred.drop("ext_order"))
    assert by_content["optimal"] == (0.5, 1.0, 0.666667)
    assert by_content["auc"] == pytest.approx(0.25)


def _oie16_frames(spark):
    """A seeded 30-sentence gold/pred pair (20 distinct confidences),
    without ext_order."""
    vocab = ["John", "Mary", "the", "of", "is", "ran", "said", "be",
             "was", "tall", "baker", "to", "London", "cat"]
    gold_rows, pred_rows = _rand_corpus(random.Random(11), 30, vocab)
    gold = spark.createDataFrame(
        [r[:3] for r in gold_rows], "sent string, pred string, args array<string>")
    pred = spark.createDataFrame(
        [r[:4] for r in pred_rows],
        "sent string, pred string, args array<string>, confidence double")
    return gold, pred


def test_oie16_compare_runs_one_action_after_the_cogroup(spark, job_ids):
    """One grouped action reads the trailer counts and every score's
    (tp, n): oie16_compare runs 4 Spark jobs (the cogroup's two inputs,
    the scoring stage, the grouped read), with the exact path's
    results."""
    from openie_spark.eval.benchmark import oie16_compare

    gold, pred = _oie16_frames(spark)
    got, jobs = job_ids("oie16", lambda: oie16_compare(gold, pred))
    assert len(jobs) <= 4, len(jobs)
    assert got["correct_total"] == 71 and got["unmatched"] == 40
    assert got["optimal"] == (0.469697, 0.43662, 0.452555)
    assert got["auc"] == pytest.approx(0.16760454378356593, rel=1e-12)
    precision, recall, thresholds = got["curve"]
    assert len(thresholds) == 19 and thresholds == sorted(thresholds)
    assert len(precision) == len(recall) == 20


def test_oie16_quantized_path_values(spark):
    """More distinct scores than max_thresholds: the scores snap down to
    an approx-quantile grid (here of 2 values) before the curve."""
    from openie_spark.eval.benchmark import oie16_compare

    gold, pred = _oie16_frames(spark)
    got = oie16_compare(gold, pred, max_thresholds=2)
    assert got["correct_total"] == 71 and got["unmatched"] == 40
    assert got["optimal"] == (0.462687, 0.43662, 0.449275)
    assert got["auc"] == pytest.approx(0.1010090393104898, rel=1e-12)
    precision, recall, thresholds = got["curve"]
    assert thresholds == [0.03, 0.911]
    assert precision == pytest.approx([0.4626865671641791, 0.0, 1.0], rel=1e-12)
    assert recall == pytest.approx([0.43661971830985913, 0.0, 0.0], rel=1e-12)


def test_oie16_quantized_path_runs_at_most_15_jobs(spark, job_ids):
    """Past max_thresholds, one aggregate reads the trailer counts and
    the quantile grid, and one grouped read the snapped (tp, n): no
    extra job for the trailer sums or a distinct-score count."""
    from openie_spark.eval.benchmark import oie16_compare

    gold, pred = _oie16_frames(spark)
    got, jobs = job_ids("oie16-quantized",
                        lambda: oie16_compare(gold, pred, max_thresholds=2))
    assert len(jobs) <= 15, len(jobs)
    assert got["correct_total"] == 71 and got["unmatched"] == 40
    assert got["curve"][2] == [0.03, 0.911]


def test_oie16_summary_df_schema(spark):
    """The one-row summary frame keeps the gate's schema (nullable
    columns) and values."""
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from openie_spark.eval.benchmark import oie16_summary_df

    df = oie16_summary_df(spark, {"auc": 0.5, "optimal": (0.1, 0.2, 0.3),
                                  "correct_total": 3, "unmatched": 1})
    assert df.schema == StructType(
        [StructField(c, DoubleType()) for c in
         ("auc", "optimal_precision", "optimal_recall", "optimal_f1")]
        + [StructField(c, LongType()) for c in ("correct_total", "unmatched")])
    assert [tuple(r) for r in df.collect()] == [(0.5, 0.1, 0.2, 0.3, 3, 1)]


def test_carb_o2o_parity_vs_reference(spark, tmp_path):
    """carb_pr_curve(recall_strategy='o2o') + carb_sweep_summary vs the
    imported reference CaRB_compare(recall_strategy='o2o')."""
    from openie_spark.eval.carb import carb_pr_curve, carb_sweep_summary
    from openie_spark.eval.matcher import binary_lenient_match

    Benchmark, Matcher = _load_reference_benchmark()
    vocab = ["John", "Mary", "the", "of", "is", "ran", "said", "be",
             "was", "tall", "baker", "to", "London", "cat"]

    for seed in (5, 19):
        rng = random.Random(seed)
        gold_rows, pred_rows = _rand_corpus(rng, 25, vocab)

        b = Benchmark.__new__(Benchmark)
        b.gold = {}
        for sent, pr, ar, _ in gold_rows:
            b.gold.setdefault(sent, []).append(_Ex(pr, ar))
        predicted = {}
        for sent, pr, ar, conf, _ in pred_rows:
            predicted.setdefault(sent, []).append(_Ex(pr, ar, conf))
        want_auc, want_opt = b.CaRB_compare(
            predicted, str(tmp_path / f"carb{seed}.txt"),
            matchingFunc=Matcher.binary_linient_tuple_match,
            recall_strategy="o2o")

        gold = spark.createDataFrame(
            [r[:3] for r in gold_rows],
            "sent string, pred string, args array<string>")
        pred = spark.createDataFrame(
            [r[:4] for r in pred_rows],
            "sent string, pred string, args array<string>, confidence double")
        curve = carb_pr_curve(gold, pred, recall_strategy="o2o")
        summary = carb_sweep_summary(curve)

        assert round(summary["auc"], 3) == pytest.approx(
            float(want_auc), abs=2e-3), seed
        assert (round(summary["optimal_precision"], 3),
                round(summary["optimal_recall"], 3),
                round(summary["optimal_f1"], 3)) == pytest.approx(
            tuple(float(v) for v in want_opt), abs=2e-3), seed


def test_oie_eval_cli_self_perfect(tmp_path):
    """The standalone eval CLI (reference evaluation.py twin):
    self-comparison prints the perfect point in the reference's own
    format plus a JSON line."""
    import json
    import subprocess
    import sys

    g = tmp_path / "gold.tsv"
    g.write_text("John ate the cake .\tate\tJohn\tthe cake\n"
                 "Mary ran home .\tran\tMary\thome\n")
    out = subprocess.run(
        [sys.executable,
         os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                      "tools", "oie_eval.py"),
         "--gold", str(g), "--pred", str(g), "--master", "local[4]"],
        capture_output=True, text=True, timeout=240)
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [ln for ln in out.stdout.splitlines() if ln.strip()]
    assert any(ln.startswith("AUC:1.00000, P:1.00000") for ln in lines)
    met = json.loads(lines[-1])
    assert met["precision"] == met["recall"] == met["f1"] == 1.0
