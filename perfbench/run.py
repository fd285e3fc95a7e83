#!/usr/bin/env python3
"""Benchmark of the KG-construction system, end to end and layer by layer.

    python3 perfbench/run.py --workload kg_rule --seed 1 --seconds 1 --trace 0

Runs the production code (``KGPipeline.run`` / ``run_incremental``,
``extract_triples``, the CaRB/OIE16 scorers) on seeded generated
inputs in one Spark ``local[k]`` session, k = min(4, usable cpus).
Each workload is a closed loop with one client: one job in flight, the
next starts when the previous returns, for at least ``--seconds``.

* ``--trace 0`` prints the end-to-end metrics of BENCHMARK.json.
* ``--trace 1`` runs one untraced and one traced iteration and prints
  the per-layer metrics: spans around the calls into each layer plus
  the engine counters of Spark's own event log, joined by job group.

Outputs are checked outside the timed region; any mismatch makes the
result ``"correct": false`` and the exit code 1. The last line of
stdout is one JSON object.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# One BLAS thread for the driver-side model timings (Spark tasks are
# the parallelism); must be set before numpy loads.
for _k in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ[_k] = "1"
# Python's per-process string-hash randomization moved oie_eval's job
# time by up to ~30 % between processes on the same input; pin it (the
# interpreter reads it only at start-up, hence the re-exec) so that
# runs differ only in their seeded inputs.
if __name__ == "__main__" and os.environ.get("PYTHONHASHSEED") != "0":
    os.environ["PYTHONHASHSEED"] = "0"
    os.execv(sys.executable, [sys.executable, *sys.argv])

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import tempfile  # noqa: E402
import time  # noqa: E402
import traceback  # noqa: E402
from collections import Counter  # noqa: E402
from contextlib import contextmanager, nullcontext  # noqa: E402

import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
from pyspark import SparkContext  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import checks  # noqa: E402
import gen  # noqa: E402
import tracing  # noqa: E402
from openie_spark import pipeline as P  # noqa: E402
from openie_spark.config import MAX_BLOCK, MAX_MENTION_TOKENS  # noqa: E402
from openie_spark.eval.benchmark import oie16_compare  # noqa: E402
from openie_spark.eval.carb import carb_compare, carb_pr_curve  # noqa: E402
from openie_spark.kg import canon, incremental  # noqa: E402
from openie_spark.kg.linking import blocked_vocab, linkable  # noqa: E402
from openie_spark.model.kernel import emissions, viterbi  # noqa: E402
from openie_spark.model.tokenizer import encode_batch, tokenize_word  # noqa: E402
from openie_spark.model.weights import PRED_SEED, get_tagger  # noqa: E402
from openie_spark.operators.extract import extract_triples  # noqa: E402
from openie_spark.session import get_spark  # noqa: E402
from openie_spark.sources.transcripts import read_transcripts  # noqa: E402

WORKLOADS = ("kg_rule", "oie_eval")
DRIVER_MEMORY = "3g"
EVAL_DOCS = 100          # eval corpus: 4 sentences per turn
MODEL_SAMPLE = 256       # sentences for the driver-side model timings
# tracing.host_unit_s() on the reference host state; timings are scaled
# to it (see host_scaled)
HOST_UNIT_REF_S = 0.018
# How strongly job wall time follows host_unit_s. On a shared 4-vCPU host
# the two moved together in some hours (log-log slope 0.8) and not at
# all in others; over seven recorded sets of 5-10 runs, 0.5 gave the
# smallest worst-case spread of job_s (0.19; 1.0 gave 0.27, 0 gave 0.21).
HOST_EXPONENT = 0.5


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def slots() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


class Ctx:
    """Per-run state: work dir, session, inputs, and what was measured."""

    def __init__(self, workload: str, seed: int, trace: bool):
        self.workload, self.seed, self.trace = workload, seed, trace
        self.k = slots()
        self.work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
        self.spark = None
        self.turns = 0          # input turns (documents)
        self.input_bytes = 0    # documents.parquet bytes
        self.info: dict = {}
        self.errors: list[str] = []

    def path(self, *p: str) -> str:
        return os.path.join(self.work, *p)


# ----------------------------------------------------------- environment

def prepare_env(ctx: Ctx) -> None:
    """Keep every file the run writes inside the work dir, and make the
    package importable in Python workers from any cwd."""
    for d in ("tmp", "spark-local", "eventlog"):
        os.makedirs(ctx.path(d), exist_ok=True)
    os.environ["TMPDIR"] = ctx.path("tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = ctx.path("spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def start_session(ctx: Ctx):
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": ctx.path("spark-local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={ctx.path('tmp')} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if ctx.trace:
        # Spark 4.1 defaults to rolling zstd logs; zstandard is not
        # installed, so ask for one plain JSON-lines file.
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + ctx.path("eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name=f"perfbench-{ctx.workload}", master=f"local[{ctx.k}]",
                      shuffle_partitions=ctx.k, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(ctx: Ctx) -> None:
    """Stops the session, then the JVM this process launched for it and
    every process under that (the Python workers), and waits until each
    has ended, so that nothing a run starts outlives it."""
    try:
        if ctx.spark is not None:
            ctx.spark.stop()
    finally:
        ctx.spark = None
        pids = tracing.descendants(os.getpid())
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None and proc.stdin and not proc.stdin.closed:
            proc.stdin.close()      # the JVM exits at EOF on its stdin
        left = tracing.wait_ended(pids)
        if proc is not None and proc.pid not in left:
            proc.wait()
        if left:
            print(f"perfbench: processes still running: {left}", file=sys.stderr)


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f))
                     for f in files if not f.startswith(("_", ".")))
    return total


def manifests(out_dir: str) -> dict[str, dict]:
    out = {}
    for name in os.listdir(out_dir):
        p = os.path.join(out_dir, name, "_manifest.json")
        if os.path.exists(p):
            with open(p) as fh:
                out[name] = json.load(fh)
    return out


# ------------------------------------------------------------ kg_rule

class KgRule:
    """Full KG build (rule backend) over prior ∪ delta conversations.
    Set-up builds the prior graph, which is also the untimed warm-up;
    the traced run additionally merges the delta into that prior with
    ``run_incremental`` and checks it equals the full build."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def setup(self) -> None:
        ctx = self.ctx
        prior, delta, stats = gen.kg_corpus(ctx.seed)
        gen.write_documents(prior, ctx.path("in", "prior"))
        gen.write_documents(delta, ctx.path("in", "delta"))
        ctx.input_bytes = gen.write_documents(pa.concat_tables([prior, delta]),
                                              ctx.path("in", "all"))
        ctx.info["inputs"] = stats
        ctx.turns = stats["turns"]

    def warmup(self) -> None:
        P.KGPipeline(self.ctx.spark, self.ctx.path("in", "prior"),
                     self.ctx.path("prior_graph")).run(resume=False)

    def iteration(self, tag: str) -> dict:
        out = self.ctx.path(f"full_{tag}")
        t0 = time.perf_counter()
        summary = P.KGPipeline(self.ctx.spark, self.ctx.path("in", "all"), out).run(resume=False)
        seconds = time.perf_counter() - t0
        stored = sum(m.get("data_bytes", 0) for m in manifests(out).values())
        return {"seconds": seconds, "triples": summary["triples"], "out": out,
                "stored_bytes": stored}

    def check(self, runs: list[dict]) -> None:
        ctx = self.ctx
        con = checks.duck_connection(ctx.path("in", "all", "documents.parquet"),
                                     ctx.k, ctx.path("tmp"))
        triples = checks.run_oracle(con, "triples")
        expected = checks.reference_hashes(triples)
        first = checks.stage_hashes(runs[0]["out"])
        for name, h in first.items():
            if h != expected[name]:
                ctx.errors.append(f"{name}: stage table differs from the oracle")
        for r in runs[1:]:
            if checks.stage_hashes(r["out"]) != first:
                ctx.errors.append(f"{r['out']}: differs from the checked run")
        self.checked = first

    # ----------------------------------------------------- traced run

    def traced(self) -> None:
        ctx = self.ctx
        tr = tracing.Tracer(ctx.spark.sparkContext, prefix="full/")
        tr.patch(P.ParquetTableIO, "write", lambda self, spark, df, name: f"{name}.write")
        tr.patch(P.KGPipeline, "_run_stage", lambda self, name, *a, **k: f"{name}.stage")
        tr.patch(canon, "connected_components", lambda *a, **k: "cc")
        tr.patch(incremental, "connected_components", lambda *a, **k: "cc")
        tr.patch(canon, "_cc_driver", lambda *a, **k: "cc_driver")
        try:
            with host_state() as host, tr.span("job"):
                run = self.iteration("traced")
            run["host"] = host
            tr.prefix = "inc/"
            with tr.span("job"):
                P.KGPipeline(ctx.spark, ctx.path("in", "delta"), ctx.path("inc")).run_incremental(
                    ctx.path("prior_graph"), resume=False)
        finally:
            tr.restore()
        self.run_traced = run
        self.tracer = tr
        self.candidates = self._candidates(run["out"])

        if checks.stage_hashes(run["out"]) != self.checked:
            ctx.errors.append("traced build differs from the checked run")
        merged_h = checks.stage_hashes(ctx.path("inc"), checks.GRAPH_STAGES)
        for name in checks.GRAPH_STAGES:
            if merged_h[name] != self.checked[name]:
                ctx.errors.append(f"incremental {name} differs from the full build")

    def _candidates(self, out: str) -> int:
        vocab = self.ctx.spark.read.parquet(os.path.join(out, "vocab")).drop("bucket")
        sizes = blocked_vocab(linkable(vocab)).groupBy("bkey").agg(F.count(F.lit(1)).alias("n"))
        return sum(r.n * (r.n - 1) // 2 for r in sizes.collect())

    def touched_block_share(self) -> float:
        def linkable_norms(d: str) -> set[str]:
            t = pq.read_table(os.path.join(d, "vocab"), columns=["norm", "n_tokens"])
            return {n for n, k in zip(t.column("norm").to_pylist(), t.column("n_tokens").to_pylist())
                    if k <= MAX_MENTION_TOKENS}

        old, new = linkable_norms(self.ctx.path("prior_graph")), linkable_norms(self.ctx.path("inc"))
        size = Counter(k for m in new for k in gen.block_keys(m))
        live = {k for k, n in size.items() if n <= MAX_BLOCK}
        touched = {k for m in new - old for k in gen.block_keys(m)} & live
        return len(touched) / max(len(live), 1)

    def layer_metrics(self, groups: dict, base: dict) -> dict:
        ctx, tr, run = self.ctx, self.tracer, self.run_traced
        man = manifests(run["out"])
        full = {n for n in groups if n.startswith("full/")}

        def agg(*names):
            return tracing.merged(groups, [f"full/{n}" for n in names])

        w = {s: tr.seconds(f"full/{s}.write") for s in man}
        cc = tr.seconds("full/cc")
        stage_s = sum(m["seconds"] for m in man.values())
        graph = ("triples_norm", "nodes", "edges", "relations")
        pairs = agg("pairs.write")
        skew = man["vocab"]["metrics"]["skew"]
        job_s = run["seconds"]
        allg = tracing.merged(groups, full)
        out = {
            "operators.busy_s": w["triples"],
            "operators.cpu_s": agg("triples.write")["cpu_s"],
            "operators.triples_per_turn": man["triples"]["rows"] / ctx.turns,
            "mentions.busy_s": w["vocab"],
            "mentions.vocab_rows": man["vocab"]["rows"],
            "mentions.shuffle_mb": agg("vocab.write")["shuffle_write_bytes"] / 1e6,
            "linking.busy_s": w["pairs"],
            "linking.candidates": self.candidates,
            "linking.kept_ratio": man["pairs"]["rows"] / max(self.candidates, 1),
            "linking.hot_key_share": skew["n_hot_blocks"] / max(skew["n_blocks"], 1),
            "linking.shuffle_mb": pairs["shuffle_write_bytes"] / 1e6,
            "linking.spill_mb": pairs["spill_bytes"] / 1e6,
            "linking.task_skew": tracing.task_skew(pairs),
            "canon.busy_s": cc + w["components"],
            "canon.cc_s": cc,
            "canon.driver_route": tr.calls("full/cc_driver"),
            "graph.busy_s": sum(w[s] for s in graph),
            "graph.shuffle_mb": agg(*(f"{s}.write" for s in graph))["shuffle_write_bytes"] / 1e6,
            "graph.edges_per_triple": man["edges"]["rows"] / man["triples"]["rows"],
            "pipeline.write_s": sum(w.values()),
            "pipeline.lineage_s": stage_s - sum(w.values()) - cc,
            "pipeline.orchestration_s": job_s - stage_s,
            "pipeline.spark_jobs": allg["jobs"],
            "pipeline.data_files": sum(m.get("data_files", 0) for m in man.values()),
            "pipeline.gc_s": allg["gc_s"],
            "engine.slot_util": allg["run_s"] / (job_s * ctx.k),
            "engine.trace_overhead": trace_overhead(run, base),
        }
        nodes, edges = tr.find("inc/nodes.stage"), tr.find("inc/edges.stage")
        out.update({
            "incremental.busy_s": tr.seconds("inc/job"),
            "incremental.remap_s": edges["start"] - nodes["end"],
            "incremental.touched_block_share": self.touched_block_share(),
        })
        return out


# ------------------------------------------------------------ oie_eval

def _with_confidence(df):
    """Deterministic varied confidences in {0.25, 0.5, 0.75, 1.0} so the
    CaRB sweep has several thresholds (the taggers emit 1.0)."""
    return df.select("sent", "pred", "args",
                     ((F.pmod(F.xxhash64("sent", "pred"), F.lit(4)) + 1) / 4.0)
                     .alias("confidence"))


class OieEval:
    """Neural OIE extraction (written as a stage table) scored against
    gold tuples with carb_compare, carb_pr_curve and oie16_compare. The
    untimed warm-up is the same job on the same corpus; every timed run
    must reproduce its table and scores."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.tracer = None

    def setup(self) -> None:
        ctx = self.ctx
        docs, gold, stats = gen.eval_corpus(ctx.seed, EVAL_DOCS)
        ctx.input_bytes = gen.write_documents(docs, ctx.path("in", "eval"))
        self._write_gold(gold, ctx.path("in", "eval_gold.parquet"))
        self.sentences = [g[0] for g in gold]
        ctx.info["inputs"] = stats
        ctx.turns = stats["turns"]

    @staticmethod
    def _write_gold(gold: list[tuple], path: str) -> None:
        pq.write_table(pa.table({
            "sent": [g[0] for g in gold],
            "pred": [g[1] for g in gold],
            "args": pa.array([g[2] for g in gold], pa.list_(pa.string())),
        }), path)

    def _span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def iteration(self, tag: str) -> dict:
        spark = self.ctx.spark
        io = P.ParquetTableIO(self.ctx.path("eval_out"))
        t0 = time.perf_counter()
        with self._span("extract"):
            io.write(spark, extract_triples(read_transcripts(spark, self.ctx.path("in", "eval")),
                                            backend="neural"), f"triples_{tag}")
        pred = _with_confidence(io.read(spark, f"triples_{tag}"))
        gold = spark.read.parquet(self.ctx.path("in", "eval_gold.parquet"))
        with self._span("carb"):
            carb = carb_compare(gold, pred.drop("confidence")).collect()[0].asDict()
        with self._span("sweep"):
            curve = [tuple(r) for r in carb_pr_curve(gold, pred).collect()]
        with self._span("oie16"):
            oie = oie16_compare(gold, pred)
        seconds = time.perf_counter() - t0
        out = io.location(f"triples_{tag}")
        rows = checks.table_rows(out, "triples")
        # the job's work is the gold tuples it scores (a fixed count); the
        # extracted count varies with the seed
        return {"seconds": seconds, "out": out, "stored_bytes": dir_bytes(out),
                "triples": len(self.sentences), "extracted": len(rows),
                "hash": checks.value_hash(rows, checks.STAGES["triples"][1]),
                "scores": {"carb": carb, "curve": curve,
                           "oie16": {k: oie[k] for k in ("auc", "optimal", "correct_total",
                                                         "unmatched")}}}

    def warmup(self) -> None:
        """The set-up run, then CaRB gold-vs-gold (must be P = R = F1 = 1
        over every gold sentence) — which also warms the scorer further."""
        self.setup_run = self.iteration("setup")
        gold = self.ctx.spark.read.parquet(self.ctx.path("in", "eval_gold.parquet"))
        g = carb_compare(gold, gold).collect()[0]
        if not (g.precision == g.recall == g.f1 == 1.0
                and g.n_gold_sents == len(set(self.sentences))):
            self.ctx.errors.append(f"gold-vs-gold CaRB is not perfect: {g}")

    def check(self, runs: list[dict]) -> None:
        for r in runs:
            if r["hash"] != self.setup_run["hash"] or r["scores"] != self.setup_run["scores"]:
                self.ctx.errors.append(f"{r['out']}: differs from the set-up run")

    # ----------------------------------------------------- traced run

    def traced(self) -> None:
        self.tracer = tracing.Tracer(self.ctx.spark.sparkContext, prefix="eval/")
        self.tracer.patch(P.ParquetTableIO, "write", lambda self, spark, df, name: "write")
        try:
            with host_state() as host, self.tracer.span("job"):
                run = self.iteration("traced")
            run["host"] = host
        finally:
            self.tracer.restore()
        if run["hash"] != self.setup_run["hash"]:
            self.ctx.errors.append("traced run differs from the set-up run")
        self.run_traced = run

    def model_timings(self) -> dict:
        """Single-thread driver timings of encode_batch, emissions and
        viterbi on a seeded sample of the workload's sentences, plus
        pieces per word, and the tokenize_word LRU hit ratio of one
        process tokenizing the corpus in order from an empty cache."""
        rng = np.random.default_rng(self.ctx.seed)
        idx = rng.choice(len(self.sentences), size=min(MODEL_SAMPLE, len(self.sentences)),
                         replace=False)
        batches = [[self.sentences[i].split(" ") for i in idx[j:j + 256]]
                   for j in range(0, len(idx), 256)]
        n_words = sum(len(ws) for b in batches for ws in b)
        w = get_tagger(PRED_SEED)

        tokenize_word.cache_clear()
        t0 = time.perf_counter()
        enc = [encode_batch(b) for b in batches]
        encode_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        emis = [emissions(w, ids, seg, lengths) for ids, seg, _, lengths, _ in enc]
        emissions_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        for e, (_, _, _, lengths, _) in zip(emis, enc):
            viterbi(w, e, lengths)
        viterbi_s = time.perf_counter() - t0
        pieces = sum(len(tokenize_word(x)) for b in batches for ws in b for x in ws)

        tokenize_word.cache_clear()
        for s in self.sentences:
            for x in s.split(" "):
                tokenize_word(x)
        hits, misses = tokenize_word.cache_info()[:2]
        kwords = n_words / 1000
        return {
            "model.encode_ms_per_kword": encode_s * 1e3 / kwords,
            "model.emissions_ms_per_kword": emissions_s * 1e3 / kwords,
            "model.viterbi_ms_per_kword": viterbi_s * 1e3 / kwords,
            "model.pieces_per_word": pieces / n_words,
            "model.tokenize_cache_hit_ratio": hits / max(hits + misses, 1),
        }

    def layer_metrics(self, groups: dict, base: dict) -> dict:
        ctx, tr, run = self.ctx, self.tracer, self.run_traced
        job_s = run["seconds"]
        ext = tracing.merged(groups, ["eval/extract", "eval/write"])
        scorers = tracing.merged(groups, ["eval/carb", "eval/sweep", "eval/oie16"])
        allg = tracing.merged(groups, [n for n in groups if n.startswith("eval/")])
        extract_s = tr.seconds("eval/extract")
        return {
            "operators.busy_s": extract_s,
            "operators.cpu_s": ext["cpu_s"],
            "operators.triples_per_turn": run["extracted"] / ctx.turns,
            "model.busy_s": extract_s,
            "model.python_s": ext["python_s"],
            "model.arrow_mb": ext["arrow_bytes"] / 1e6,
            **self.model_timings(),
            "pipeline.write_s": tr.seconds("eval/write"),
            "pipeline.spark_jobs": allg["jobs"],
            "pipeline.data_files": sum(1 for f in os.listdir(run["out"])
                                       if not f.startswith(("_", "."))),
            "pipeline.gc_s": allg["gc_s"],
            "eval.carb_s": tr.seconds("eval/carb"),
            "eval.sweep_s": tr.seconds("eval/sweep"),
            "eval.oie16_s": tr.seconds("eval/oie16"),
            "eval.python_s": scorers["python_s"],
            "eval.sentence_groups": run["scores"]["carb"]["n_gold_sents"],
            "engine.slot_util": allg["run_s"] / (job_s * ctx.k),
            "engine.trace_overhead": trace_overhead(run, base),
        }


# ---------------------------------------------------------------- main

def closed_loop(wl, seconds: float, ctx: Ctx) -> tuple[list[dict], int]:
    """One client, one job in flight, for at least ``seconds``. Each job
    also records the CPU seconds the whole process tree spent on it."""
    runs, failed = [], 0
    t_end = time.perf_counter() + seconds
    i = 0
    me = os.getpid()
    while not runs or time.perf_counter() < t_end:
        try:
            with host_state() as host:
                cpu0 = tracing.tree_cpu_seconds(me)
                run = wl.iteration(str(i))
                run["cpu_s"] = tracing.tree_cpu_seconds(me) - cpu0
            run["host"] = host
            runs.append(run)
        except Exception as e:  # noqa: BLE001 - counted, reported, ends the loop
            traceback.print_exc()
            failed += 1
            ctx.errors.append(f"iteration {i}: {type(e).__name__}: {e}")
            break
        i += 1
    return runs, failed


@contextmanager
def host_state():
    """Measures the host around the block. The yielded dict holds, on
    exit, ``unit_s``: ``tracing.host_unit_s()``, the mean of before and
    after; and ``steal``: the share of CPU time the hypervisor took
    during the block."""
    host: dict = {}
    unit0, cpu0 = tracing.host_unit_s(), tracing.cpu_times()
    yield host
    host["steal"] = tracing.steal_share(cpu0, tracing.cpu_times())
    host["unit_s"] = (unit0 + tracing.host_unit_s()) / 2


def host_scaled(seconds: float, host: dict) -> float:
    """Wall seconds rescaled to the reference host state: on a shared
    host the same job's wall time moved 2x within minutes, with the
    cost of a fixed unit of CPU work measured next to it, and grew
    further with the CPU time the hypervisor stole during the job."""
    return (seconds * (1.0 - host["steal"])
            * (HOST_UNIT_REF_S / host["unit_s"]) ** HOST_EXPONENT)


def trace_overhead(traced: dict, base: dict) -> float:
    """Traced / untraced job seconds, each host-scaled: the two jobs run
    minutes apart, over which the host's speed alone can move 2x."""
    return (host_scaled(traced["seconds"], traced["host"])
            / host_scaled(base["seconds"], base["host"]))


def end_to_end(runs: list[dict], setup_s: float, input_bytes: int) -> dict:
    job = [host_scaled(r["seconds"], r["host"]) for r in runs]
    return {
        "job_s": statistics.median(job),
        "triples_per_s": statistics.median(r["triples"] / j for r, j in zip(runs, job)),
        "setup_s": setup_s,
        "stored_bytes_per_input_byte": runs[0]["stored_bytes"] / input_bytes,
    }


def run_benchmark(ctx: Ctx, seconds: float) -> dict:
    wl = {"kg_rule": KgRule, "oie_eval": OieEval}[ctx.workload](ctx)
    units = {m["name"]: m["unit"] for m in spec()["end_to_end"] + spec()["per_layer"]}
    try:
        # only traced runs report the peak; keep the sampler out of gated runs
        with tracing.RssSampler() if ctx.trace else nullcontext() as rss:
            with host_state() as setup_host:
                t0, cpu0 = time.perf_counter(), tracing.tree_cpu_seconds(os.getpid())
                wl.setup()
                t_s = time.perf_counter()
                ctx.spark = start_session(ctx)
                session_s = time.perf_counter() - t_s
                wl.warmup()
                setup_s = time.perf_counter() - t0
                setup_cpu_s = tracing.tree_cpu_seconds(os.getpid()) - cpu0

            runs, failed = closed_loop(wl, seconds, ctx)
            if not failed:
                wl.check(runs)
            if ctx.trace and not failed:
                wl.traced()
        groups = {}
        if ctx.trace and not failed:
            stop_spark(ctx)     # flushes and closes the event log
            groups = tracing.aggregate(tracing.read_event_log(ctx.path("eventlog")))
    finally:
        stop_spark(ctx)

    attempted = len(runs) + failed
    if ctx.errors and not failed:
        failed = 1          # the checked job
    if ctx.trace:
        vals = {m["name"]: 0.0 for m in spec()["per_layer"]}
        if not ctx.errors:
            vals.update(wl.layer_metrics(groups, runs[0]))
            vals["session.start_s"] = session_s
            vals["engine.peak_rss_mb"] = rss.peak / 1e6
    elif runs:
        vals = end_to_end(runs, host_scaled(setup_s, setup_host), ctx.input_bytes)
    else:
        vals = {m["name"]: 0.0 for m in spec()["end_to_end"]}
    ctx.info.update({"job_wall_s": [round(r["seconds"], 3) for r in runs],
                     "job_cpu_s": [round(r["cpu_s"], 3) for r in runs],
                     "host_unit_ms": [round(r["host"]["unit_s"] * 1e3, 3) for r in runs],
                     "job_steal_share": [round(r["host"]["steal"], 4) for r in runs],
                     "setup_wall_s": round(setup_s, 3) if runs else None,
                     "setup_cpu_s": round(setup_cpu_s, 3) if runs else None,
                     "setup_steal_share": round(setup_host["steal"], 4) if runs else None,
                     "errors": ctx.errors, "error_rate": failed / max(attempted, 1),
                     "slots": ctx.k})
    return {
        "correct": not ctx.errors,
        "attempted": max(attempted, 1),
        "failed": failed,
        "metrics": {n: {"value": float(v), "unit": units[n]} for n, v in vals.items()},
        "info": ctx.info,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, default="kg_rule")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec()["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # SIGTERM unwinds like an exception, so the session and its
    # processes are still stopped and the work dir removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ctx = Ctx(args.workload, args.seed, bool(args.trace))
    prepare_env(ctx)
    try:
        res = run_benchmark(ctx, args.seconds)
    finally:
        shutil.rmtree(ctx.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(ctx.work))     # left when other runs still use it
        except OSError:
            pass
    info = res.pop("info")
    print("# inputs: " + json.dumps(info.pop("inputs", {}), sort_keys=True))
    print("# run: " + json.dumps(info, sort_keys=True))
    for name, m in res["metrics"].items():
        print(f"# {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps(res, sort_keys=True))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
