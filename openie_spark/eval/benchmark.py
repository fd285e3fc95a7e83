"""E7 compare drivers: ``Oie16_compare`` and the CaRB ``o2o`` recall
strategy — the last reachable eval surfaces of the reference
(/root/reference/eval/oie_eval/benchmark.py:48-121 and 123-288,
reached via eval/oie_eval/eval.py:10-63; the default evaluation path
pins E4, eval/evaluation.py:36).

Spark shape: identical to eval/carb.py — one cogroup shuffle on the
sentence bucket (``carb.cogroup_sentences``: one pandas call per
bucket of sentences, not per sentence); the per-sentence sequential
matching loop (prediction *consumption*: a predicted extraction, once
matched, may never match another gold — benchmark.py:79-99) runs in
plain Python inside the bucket call, where it is tiny; global PR math
needs only per-distinct-score (tp, n) counts, so the driver never
holds per-extraction vectors. One grouped action on the score reads
those counts and, from the NULL-score group of per-sentence trailer
rows, correctTotal and unmatchedCount: 4 Spark jobs in all (the two
cogroup inputs, the scoring stage, the grouped read).
Threshold boundedness mirrors eval.carb.MAX_EXACT_THRESHOLDS: beyond
it, scores snap down to an approx-quantile grid (logged deviation).

sklearn is absent in this sandbox; ``precision_recall_curve_np`` /
``auc_np`` are numpy twins of the public sklearn functions the
reference calls (benchmark.py:26-27,365-380), unit-pinned in
tests/test_benchmark.py against hand-computed sklearn outputs.

Reference quirks preserved:
  * a gold sentence MISSING from predictions adds len(gold)² to BOTH
    correctTotal and unmatchedCount (the += len(goldExtractions)
    inside the per-goldEx loop, benchmark.py:66-71).
  * prediction-only sentences contribute nothing — not even false
    positives (the loop is over gold keys, benchmark.py:64).
  * unmatched predictions of matched sentences ARE false positives
    with their own confidences (benchmark.py:101-104).
  * non-finite y_scores are zeroed before the curve
    (prCurve, benchmark.py:365-370).
  * recall is multiplied by (correctTotal - unmatchedCount) /
    correctTotal — the "unreached examples" correction
    (benchmark.py:115-117).
  * optimal point = max f_beta over (precision, recall, threshold)
    triples EXCLUDING the appended (p=1, r=0) endpoint
    (benchmark.py:373-377); f_beta's 0/0 ZeroDivisionError is mapped
    to f=0 instead of crashing (documented deviation).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from openie_spark.eval.carb import (
    MAX_EXACT_THRESHOLDS,
    _with_key,
    cogroup_sentences,
)
from openie_spark.eval.matcher import (
    LEXICAL_THRESHOLD,
    _bow,
    lexical_match,
)

# sentinel routed into the cogroup kernel when the caller uses the
# default lexicalMatch — selects the counter-dot fast path. A string
# (compared by ==) survives cloudpickle; a bare object() would be
# re-instantiated on the worker and fail the identity check.
_LEXICAL_FAST = "__oie16_lexical_fast__"

# ------------------------------------------------------- sklearn twins


def precision_recall_curve_np(y_true, y_score):
    """Twin of sklearn.metrics.precision_recall_curve (public
    semantics): thresholds are the distinct scores descending;
    precision/recall arrays are reversed to ascending-threshold order
    with the (precision=1, recall=0) endpoint appended."""
    y_true = np.asarray(y_true, dtype=np.float64)
    y_score = np.asarray(y_score, dtype=np.float64)
    desc = np.argsort(-y_score, kind="stable")
    y_true, y_score = y_true[desc], y_score[desc]
    distinct = np.where(np.diff(y_score))[0]
    threshold_idxs = np.r_[distinct, y_true.size - 1]
    tps = np.cumsum(y_true)[threshold_idxs]
    fps = 1 + threshold_idxs - tps
    return _pr_from_cum(tps, fps, y_score[threshold_idxs])


def _pr_from_cum(tps, fps, thresholds):
    """Shared tail of the sklearn twin, from cumulative tp/fp counts
    at descending-threshold positions."""
    precision = tps / (tps + fps)
    precision[np.isnan(precision)] = 0.0
    recall = np.ones_like(tps) if tps[-1] == 0 else tps / tps[-1]
    last_ind = int(tps.searchsorted(tps[-1]))
    sl = slice(last_ind, None, -1)
    return (np.r_[precision[sl], 1],
            np.r_[recall[sl], 0],
            thresholds[sl])


def auc_np(x, y):
    """Twin of sklearn.metrics.auc: trapezoid over x (either monotone
    direction)."""
    return float(abs(np.trapz(np.asarray(y, dtype=np.float64),
                              np.asarray(x, dtype=np.float64))))


def f_beta(precision: float, recall: float, beta: float = 1.0) -> float:
    """benchmark.py:422-427 with the 0/0 crash mapped to 0."""
    denom = (beta ** 2) * precision + recall
    if denom == 0:
        return 0.0
    return (1 + beta ** 2) * precision * recall / denom


# --------------------------------------------------------------- Oie16

_OIE16_SCHEMA = ("norm_key string, y int, score double, "
                 "correct_add long, unmatched_add long")


def _oie16_group(golds: list, preds: list, match_fn,
                 gold_ordered: bool = False,
                 pred_ordered: bool = False) -> list[tuple]:
    """One gold sentence's (y, score, correct_add, unmatched_add) rows;
    gold rows are (pred, args[, ext_order]), pred rows (pred, args,
    confidence[, ext_order]); ``*_ordered`` says a side carries
    ext_order."""
    n_gold = len(golds)
    if not preds:
        # quirk: += len(goldExtractions) PER gold extraction → n²
        # (benchmark.py:66-71)
        return [(None, None, n_gold * n_gold, n_gold * n_gold)]

    # Matching CONSUMES predictions first-match-wins, so in-sentence
    # order is semantic (the reference iterates file order,
    # benchmark.py:73-99). An ``ext_order`` column reproduces it;
    # otherwise a deterministic content sort replaces the reference's
    # implicit file order (a documented deviation — distributed inputs
    # have no file order).
    def content(r):
        return str(r[0]) + "\x1f" + "\x1f".join(r[1])

    def ext_order(r):
        return r[-1]

    golds_sorted = sorted(golds, key=ext_order if gold_ordered else content)
    preds = sorted(preds, key=ext_order if pred_ordered else (
        lambda r: content(r) + "\x1f" + format(r[2], ".9g")))
    consumed = [False] * len(preds)
    if match_fn == _LEXICAL_FAST:
        # default-matcher fast path: lexicalMatch's nested equal-pair
        # count (a word m times in ref and n times in ex contributes
        # m·n — the reference quirk) IS the counter dot product; bows
        # split once per extraction, not per pair. split(" ") exactly,
        # as lexical_match does (empty tokens survive).
        from collections import Counter

        g_pre = [
            (Counter(c := _bow(gp, list(ga)).split(" ")), len(c))
            for gp, ga, *_ in golds_sorted
        ]
        p_pre = [Counter(_bow(ep, list(ea)).split(" ")) for ep, ea, *_ in preds]

        def hit(i: int, j: int) -> bool:
            g_cnt, g_len = g_pre[i]
            e_cnt = p_pre[j]
            count = sum(c * e_cnt.get(w, 0) for w, c in g_cnt.items())
            return count / g_len > LEXICAL_THRESHOLD

    else:
        def hit(i: int, j: int) -> bool:
            gp, ga, *_ = golds_sorted[i]
            ep, ea, *_ = preds[j]
            return bool(match_fn(gp, list(ga), ep, list(ea)))

    def finite(conf) -> float:
        score = float(conf)
        return score if np.isfinite(score) else 0.0

    rows = []
    unmatched = 0
    for i in range(n_gold):
        for j in range(len(preds)):
            if not consumed[j] and hit(i, j):
                rows.append((1, finite(preds[j][2]), 0, 0))
                consumed[j] = True
                break
        else:
            unmatched += 1
    rows += [(0, finite(p[2]), 0, 0) for j, p in enumerate(preds) if not consumed[j]]
    rows.append((None, None, n_gold, unmatched))
    return rows


def _bool_match(match_fn):
    """Oie16 matching functions are used as booleans
    (benchmark.py:85-92); E7 matchers returning [p, r] lists are
    truthy per the reference's own convention (a [0, 0] list is still
    truthy in Python — quirk preserved by calling bool() exactly as
    the reference's `if matchingFunc(...)` does)."""
    def fn(gp, ga, ep, ea):
        return bool(match_fn(gp, ga, ep, ea))
    return fn


def _quantized_counts(raw: DataFrame, max_thresholds: int):
    """(correct_total, unmatched, per-score rows descending) of the
    cogroup output ``raw`` when it holds more than ``max_thresholds``
    distinct scores: scores snap down to an approx-quantile grid of
    ``max_thresholds`` values (logged deviation)."""
    import logging

    # one action for the trailer sums and the grid: the NULL scores are
    # exactly the trailer rows, and percentile_approx and min skip them
    qs = [i / (max_thresholds - 1) for i in range(max_thresholds)]
    row = raw.agg(F.sum("correct_add").alias("correct"),
                  F.sum("unmatched_add").alias("unmatched"),
                  F.percentile_approx("score", qs, 10_000).alias("g"),
                  F.min("score").alias("m")).first()
    grid = sorted({float(row.m), *(float(v) for v in row.g)})
    logging.getLogger(__name__).warning(
        "oie16_compare: more than %d distinct scores; snapping to a "
        "%d-value grid", max_thresholds, len(grid))
    # floor-snap via a broadcast theta-join on the tiny grid table:
    # each sample keeps the largest grid value <= its score
    gdf = raw.sparkSession.createDataFrame(
        pa.table({"gs": pa.array(grid, pa.float64())}))
    y = (raw.filter(F.col("y").isNotNull())
         .withColumn("_rid", F.monotonically_increasing_id())
         .join(F.broadcast(gdf), F.col("score") >= F.col("gs"), "left")
         .groupBy("_rid")
         .agg(F.first("y").alias("y"),
              F.coalesce(F.max("gs"), F.first("score")).alias("score")))
    by_score = (
        y.groupBy("score")
        .agg(F.sum("y").alias("tp"), F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("score"))
        .collect())
    return int(row.correct or 0), int(row.unmatched or 0), by_score


def oie16_compare(gold: DataFrame, pred: DataFrame,
                  match_fn=lexical_match,
                  max_thresholds: int = MAX_EXACT_THRESHOLDS) -> dict:
    """Full Oie16_compare: returns
    {auc, optimal: (p, r, f1), correct_total, unmatched,
     curve: (precision[], recall[], thresholds[])}.

    gold: (sent, pred, args); pred: (sent, pred, args, confidence).
    """
    fn = _LEXICAL_FAST if match_fn is lexical_match else _bool_match(match_fn)

    gold_ordered = "ext_order" in gold.columns
    pred_ordered = "ext_order" in pred.columns

    def order(ordered: bool) -> list:
        return [F.col("ext_order").cast("long").alias("ext_order")] if ordered else []

    raw = cogroup_sentences(
        _with_key(gold, *order(gold_ordered)),
        _with_key(pred, F.col("confidence").cast("double").alias("confidence"),
                  *order(pred_ordered)),
        lambda golds, preds: _oie16_group(golds, preds, fn, gold_ordered, pred_ordered),
        _OIE16_SCHEMA,
    ).localCheckpoint(eager=False)

    # one action: the NULL-score group sums the per-sentence trailer
    # rows (correct_total, unmatched); every other group is one distinct
    # score's (tp, n) — at most max_thresholds + 1 of them are read
    groups = (
        raw.groupBy("score")
        .agg(F.sum("y").alias("tp"), F.count(F.lit(1)).alias("n"),
             F.sum("correct_add").alias("correct"),
             F.sum("unmatched_add").alias("unmatched"))
        .limit(max_thresholds + 2)
        .collect())
    by_score = sorted((r for r in groups if r.score is not None),
                      key=lambda r: r.score, reverse=True)
    if len(by_score) > max_thresholds:
        correct_total, unmatched, by_score = _quantized_counts(raw, max_thresholds)
    else:
        trailer = next((r for r in groups if r.score is None), None)
        correct_total = int(trailer.correct or 0) if trailer else 0
        unmatched = int(trailer.unmatched or 0) if trailer else 0
    if not by_score:
        return {"auc": 0.0, "optimal": (0.0, 0.0, 0.0),
                "correct_total": correct_total, "unmatched": unmatched,
                "curve": ([], [], [])}

    tps = np.cumsum([r.tp for r in by_score]).astype(np.float64)
    fps = np.cumsum([r.n - r.tp for r in by_score]).astype(np.float64)
    thresholds = np.array([r.score for r in by_score])
    precision_ls, recall_ls, thr = _pr_from_cum(tps, fps, thresholds)
    rm = ((correct_total - unmatched) / float(correct_total)
          if correct_total else 0.0)
    recall_ls = recall_ls * rm
    optimal = max(
        ((pp, rr, f_beta(pp, rr), tt)
         for pp, rr, tt in zip(precision_ls[:-1], recall_ls[:-1], thr)),
        key=lambda t: t[2])
    return {
        "auc": auc_np(recall_ls, precision_ls),
        "optimal": tuple(round(float(v), 6) for v in optimal[:3]),
        "correct_total": correct_total,
        "unmatched": unmatched,
        "curve": (precision_ls.tolist(), recall_ls.tolist(), thr.tolist()),
    }


def oie16_summary_df(spark, result: dict) -> DataFrame:
    """One-row DataFrame wrapper for the driver gate."""
    p, r, f1 = result["optimal"]
    return spark.createDataFrame(pa.table({
        "auc": pa.array([result["auc"]], pa.float64()),
        "optimal_precision": pa.array([p], pa.float64()),
        "optimal_recall": pa.array([r], pa.float64()),
        "optimal_f1": pa.array([f1], pa.float64()),
        "correct_total": pa.array([result["correct_total"]], pa.int64()),
        "unmatched": pa.array([result["unmatched"]], pa.int64()),
    }))
