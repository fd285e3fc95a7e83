"""Checkpoint-resumable KG-construction pipeline (stages A→H) with
per-stage lineage manifests (north_rule: 'checkpoint-resumable with
per-partition lineage + metrics').

Each stage materializes one table under <output>/<stage>/ plus a
``_manifest.json`` recording:

    stage, status, rows, per-bucket row counts (bucket = conv_id /
    entity hash bucket — the 'per-partition lineage'), conv_id range,
    model version (tagger weights content-hash or 'rule-v1'), engine
    config fingerprint, upstream stage fingerprints, wall seconds, and
    the schema the table was written with.

Schedule: the stage rows run as the DAG their ``upstream`` declares,
one thread per row (the threads only wait; Spark's task slots bound
the parallelism). A stage builds as soon as the tables it reads are
written, not after every earlier row: ``nodes`` and ``edges`` build
side by side. Once its write returns, a stage publishes its table to
the stages downstream and only then does its bookkeeping (the grouped
lineage scan, storage stats, ``metrics``), so that overlaps the
stages after it. Its manifest is written after its table and after
its upstream stages' manifests, because the fingerprint carries their
``rows`` and ``write_id``. Each thread inherits the caller's Spark
local properties (job group included). The loop returns once every
stage and manifest is done, and re-raises the first error (in row
order) only then; a stage whose upstream failed fails with it and
writes no manifest.

Resume semantics: a stage whose upstream was rebuilt in this run is
rebuilt without reading its manifest (the fingerprint holds that
upstream's fresh ``write_id``, so it cannot match). A stage whose
upstream stages all resumed re-runs iff its manifest is missing,
incomplete, carries no schema, or its recorded fingerprint differs (so
resuming after a config/model change invalidates exactly the dirty
suffix of the DAG). A resumed table is read back with the manifest's
schema, so resuming runs no schema-inference job. Writes are
atomic-per-stage: data lands under the stage dir first, the manifest
is written LAST — a job killed mid-stage leaves no manifest and the
stage re-runs cleanly (idempotent overwrite).

Storage: Parquet with a persisted ``bucket`` column (hash of conv_id /
entity id). On a real deployment swap TableIO for Iceberg
``writeTo(...).createOrReplace()`` — the manifest/resume contract is
unchanged (SURVEY.md §7: no Iceberg jar in this sandbox).
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from collections.abc import Callable
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import cached_property

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from openie_spark import config as C
from openie_spark.kg import analytics as A
from openie_spark.kg.canon import canonical_map
from openie_spark.kg.coref import coref_edges
from openie_spark.kg.dialogue import topic_segments
from openie_spark.kg.enrich import entity_salience, entity_types, relation_schema
from openie_spark.kg.graph import build_edges_from_norm, build_nodes, norm_triples
from openie_spark.kg.incremental import (
    entity_remap,
    incremental_exact_pairs,
    merge_components,
    merge_relations,
    merge_vocab,
    remap_edges,
)
from openie_spark.kg.linking import exact_pairs, skew_stats
from openie_spark.kg.mentions import mention_vocab, mentions_from_norm
from openie_spark.operators.extract import extract_triples
from openie_spark.sources.transcripts import read_transcripts

ENGINE_VERSION = "openie-spark-0.1"
N_BUCKETS = 32


# ------------------------------------------------------------ TableIO
# The storage seam promised in SURVEY.md §7: stage tables go through
# one of these; lineage manifests stay Hadoop-FS sidecars under
# output_dir either way (they ARE the resume contract, not the table
# format). No Iceberg runtime jar ships in this sandbox, so the
# Iceberg branch is selected only when the user configures a catalog
# (spark.openie.catalog=<name>, with spark.sql.catalog.<name>.* set)
# and is exercised here only at the routing level.


class ParquetTableIO:
    """Parquet directory per stage under output_dir (the sandbox
    default; layout identical to rounds 1-2)."""

    kind = "parquet"

    def __init__(self, output_dir: str):
        self.output_dir = output_dir

    def location(self, name: str) -> str:
        return os.path.join(self.output_dir, name)

    def write(self, spark: SparkSession, df: DataFrame, name: str) -> DataFrame:
        """Write ``df`` and return the written table, read back with the
        schema it was written with (no schema-inference job)."""
        df.write.mode("overwrite").parquet(self.location(name))
        return self.read(spark, name, df.schema)

    def read(self, spark: SparkSession, name: str,
             schema: StructType | None = None) -> DataFrame:
        """The table ``name``; with ``schema`` it is read with that
        schema instead of inferring one from the files (a Spark job)."""
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(self.location(name))


class IcebergTableIO:
    """Iceberg v2 tables <catalog>.<namespace>.<stage> via the
    DataFrameWriterV2 (writeTo(...).createOrReplace()) — snapshot
    isolation makes the stage write atomic on the table side too; the
    manifest sidecar still gates resume so the contract is unchanged."""

    kind = "iceberg"

    def __init__(self, output_dir: str, catalog: str,
                 namespace: str = "openie"):
        self.output_dir = output_dir  # manifests still live here
        self.catalog = catalog
        self.namespace = namespace

    def qualified(self, name: str) -> str:
        return f"{self.catalog}.{self.namespace}.{name}"

    def location(self, name: str) -> str:
        return self.qualified(name)

    def write(self, spark: SparkSession, df: DataFrame, name: str) -> DataFrame:
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {self.catalog}.{self.namespace}")
        df.writeTo(self.qualified(name)).using("iceberg").createOrReplace()
        return self.read(spark, name)

    def read(self, spark: SparkSession, name: str,
             schema: StructType | None = None) -> DataFrame:
        return spark.table(self.qualified(name))    # the catalog holds the schema


def conv_ranges_may_meet(a: dict, b: dict) -> bool:
    """False when two stage manifests' ``conv_id_range`` entries prove
    their tables share no conv_id: either range is ``None`` or has a
    ``None`` bound (no non-NULL conv_id; NULLs never join), or the
    ranges are disjoint. Python orders strings by code point, which is
    the UTF-8 byte order Spark's MIN/MAX use."""
    ra, rb = a["conv_id_range"], b["conv_id_range"]
    if ra is None or rb is None or None in ra or None in rb:
        return False
    return ra[0] <= rb[1] and rb[0] <= ra[1]


def make_table_io(spark: SparkSession, output_dir: str):
    """Iceberg when a catalog is configured, Parquet+manifest
    otherwise (catalog-absent behavior unchanged — unit-pinned)."""
    catalog = spark.conf.get("spark.openie.catalog", None)
    if catalog:
        return IcebergTableIO(output_dir, catalog)
    return ParquetTableIO(output_dir)


def _fingerprint() -> dict:
    return {
        "engine": ENGINE_VERSION,
        "link_jaccard": C.LINK_JACCARD,
        "max_block": C.MAX_BLOCK,
        "max_mention_tokens": C.MAX_MENTION_TOKENS,
        "pred_lexicon_n": len(C.PRED_LEXICON),
    }


def model_version(backend: str) -> str:
    if backend == "neural":
        from openie_spark.model.weights import ARG_SEED, PRED_SEED, get_tagger

        return f"{get_tagger(PRED_SEED).version}+{get_tagger(ARG_SEED).version}"
    return "rule-v1"


@dataclass
class StageResult:
    name: str
    path: str
    rows: int
    seconds: float
    resumed: bool
    manifest: dict = field(default_factory=dict)


# --------------------------------------------------------- stage table
# The KG DAG, declared once. KGPipeline.run persists these rows with
# manifests; the driver queries (__spark_entry__._shared) build the
# core rows in memory from the same functions.


@dataclass(frozen=True)
class Stage:
    """One stage: ``build(job, *tables)`` gets the KGPipeline (its
    spark, input_dir and backend) and the upstream tables,
    in ``upstream`` order and without their ``bucket`` column.
    ``bucket`` is the column hashed into the persisted ``bucket``
    lineage column; ``metrics(out)`` adds manifest metrics over the
    written table."""

    name: str
    build: Callable[..., DataFrame]
    upstream: tuple[str, ...]
    bucket: str
    metrics: Callable[[DataFrame], dict] | None = None


def _pure(fn: Callable[..., DataFrame]) -> Callable[..., DataFrame]:
    """A build that reads only its upstream tables."""
    return lambda job, *tables: fn(*tables)


def _transcripts(job) -> DataFrame:
    return read_transcripts(job.spark, job.input_dir)


def _triples(job) -> DataFrame:
    return extract_triples(_transcripts(job), backend=job.backend)


def _vocab(job, tnorm: DataFrame) -> DataFrame:
    return mention_vocab(mentions_from_norm(tnorm))


def _components(job, vocab: DataFrame, pairs: DataFrame) -> DataFrame:
    # imported here, not at module level: connected_components is
    # looked up at call time so a tracer can wrap it
    from openie_spark.kg.canon import connected_components

    return canonical_map(vocab, connected_components(pairs))


def _vocab_skew(out: DataFrame) -> dict:
    return {"skew": skew_stats(out.drop("bucket")).collect()[0].asDict()}


KG_STAGES = (
    Stage("triples", _triples, (), "conv_id"),
    # normalization materialized ONCE; vocab and edges reuse it
    Stage("triples_norm", _pure(norm_triples), ("triples",), "conv_id"),
    Stage("vocab", _vocab, ("triples_norm",), "norm", _vocab_skew),
    Stage("pairs", _pure(exact_pairs), ("vocab",), "a"),
    Stage("components", _components, ("vocab", "pairs"), "component"),
    Stage("nodes", _pure(build_nodes), ("components",), "entity_id"),
    Stage("edges", _pure(build_edges_from_norm), ("triples_norm", "components"), "src_id"),
    # compact weighted sink: what a KG consumer reads instead of the
    # occurrence-scale provenance edges (north rule: "finally
    # materializing node/edge tables")
    Stage("relations", _pure(A.relation_weights), ("edges",), "src_id"),
)


# --------------------------------------------------------- merge table
# run_incremental's merge DAG over kg/incremental.py, declared once: a
# KG stage with a merge row builds it over prior ⊎ delta, the others
# (triples, triples_norm, nodes) their own build over the delta. The
# driver's incr_* shared tables come from the same rows.


@dataclass(frozen=True)
class Merge:
    """``build(job, *tables)`` gets ``inputs`` in order: a stage name is
    that table of this run (the delta's triples_norm, merged tables
    after it), ``prior_<stage>`` that table of the prior output, and
    ``remap`` the REMAP row's table."""

    name: str
    build: Callable[..., DataFrame]
    inputs: tuple[str, ...]

    @property
    def prior(self) -> tuple[str, ...]:
        """The prior tables the row reads, directly or via the remap."""
        out: tuple[str, ...] = ()
        for n in self.inputs:
            if n.startswith("prior_"):
                out += (n.removeprefix("prior_"),)
            elif n == REMAP.name:
                out += REMAP.prior
        return out


def _merge_edges(prior_edges: DataFrame, remap: DataFrame,
                 tnorm: DataFrame, components: DataFrame) -> DataFrame:
    # old edges only get their ids rewritten; the delta's are built
    # against the merged components
    return remap_edges(prior_edges, remap).unionByName(
        build_edges_from_norm(tnorm, components))


def _merge_relations(prior_relations: DataFrame, remap: DataFrame,
                     tnorm: DataFrame, components: DataFrame,
                     edges: DataFrame) -> DataFrame:
    return merge_relations(prior_relations, remap,
                           build_edges_from_norm(tnorm, components), edges)


# prior entity id -> merged entity id, for every prior entity: built
# once per merge, before the first stage that reads it (edges)
REMAP = Merge("remap", _pure(entity_remap), ("prior_components", "components"))

MERGES = {m.name: m for m in (
    Merge("vocab", lambda job, pv, tn: merge_vocab(pv, _vocab(job, tn)),
          ("prior_vocab", "triples_norm")),
    Merge("pairs", _pure(incremental_exact_pairs),
          ("prior_pairs", "prior_vocab", "vocab")),
    Merge("components",
          lambda job, v, pc, p: canonical_map(v, merge_components(pc, p)),
          ("vocab", "prior_components", "pairs")),
    REMAP,
    Merge("edges", _pure(_merge_edges),
          ("prior_edges", "remap", "triples_norm", "components")),
    Merge("relations", _pure(_merge_relations),
          ("prior_relations", "remap", "triples_norm", "components", "edges")),
)}


def _truss_backbone(job, nodes: DataFrame, edges: DataFrame) -> DataFrame:
    co = (A.comention_pairs(edges)
          .where(F.col("n_convs") >= A.ASSOC_MIN_CONVS)
          .select(F.col("a").alias("src_id"), F.col("b").alias("dst_id")))
    return A.truss(nodes, co)


_NE = ("nodes", "edges")

# optional stage-I analytics over the materialized graph — resumable
# like every other stage, reading the already-written nodes/edges
# tables (not re-deriving)
ANALYTICS_STAGES = (
    Stage("pagerank", _pure(A.pagerank), _NE, "entity_id"),
    Stage("triangles", _pure(A.triangle_counts), _NE, "entity_id"),
    Stage("khop", lambda job, n, e: A.khop_distances(n, e, ball=job.seed_ball()),
          _NE, "entity_id"),
    Stage("harmonic",
          lambda job, n, e: A.harmonic_centrality(n, e, ball=job.seed_ball()),
          _NE, "entity_id"),
    Stage("seed_distances",
          lambda job, n, e: A.seed_pair_distances(n, e, ball=job.seed_ball()),
          _NE, "src"),
    Stage("communities", _pure(A.label_prop_communities), _NE, "entity_id"),
    Stage("kcore", _pure(A.kcore), _NE, "entity_id"),
    Stage("degree_hist", _pure(A.degree_histogram), _NE, "bin"),
    Stage("salsa", _pure(A.salsa), _NE, "entity_id"),
    Stage("rel_cardinality", _pure(A.relation_cardinality), ("edges",), "pred"),
    Stage("truss", _truss_backbone, _NE, "a"),
    Stage("rules", _pure(A.rule_implications), ("edges",), "body"),
    Stage("conflicts", _pure(A.functional_conflicts), ("edges",), "pred"),
    Stage("type_graph", _pure(A.type_pair_graph), _NE, "src_type"),
)

# optional consumer-facing sinks: temporal relation intervals
# (time-sliced KG queries), the N-Triples interchange table, growth
EXPORT_STAGES = (
    Stage("temporal", lambda job, e: A.temporal_relations(e, _transcripts(job)),
          ("edges",), "src_id"),
    Stage("export_nt", _pure(A.export_ntriples), _NE, "nt"),
    Stage("growth", lambda job, e: A.kg_growth(e, _transcripts(job)),
          ("edges",), "day"),
)

# optional stage-I+ enrichment sinks: typing, schema induction,
# per-conversation salience, coref-recovered edges, topic segments,
# timelines, link-prediction splits, extraction yield
ENRICH_STAGES = (
    Stage("entity_types", _pure(entity_types), ("nodes",), "entity_id"),
    Stage("schema", lambda job, n, e: relation_schema(e, n), _NE, "rel_canon"),
    Stage("salience", _pure(entity_salience), ("edges",), "conv_id"),
    Stage("coref_edges", _pure(coref_edges), ("triples", "components"), "src_id"),
    Stage("segments", lambda job: topic_segments(_transcripts(job)), (), "conv_id"),
    Stage("timeline", lambda job, e: A.entity_timeline(e, _transcripts(job)),
          ("edges",), "entity_id"),
    Stage("edge_split", _pure(A.edge_split), ("edges",), "src_id"),
    Stage("yield", lambda job, t: A.extraction_yield(_transcripts(job), t),
          ("triples",), "conv_id"),
)


class KGPipeline:
    """Orchestrates the stage table (KG_STAGES, plus the optional
    analytics / export / enrich rows), each stage a Parquet table +
    manifest."""

    def __init__(self, spark: SparkSession, input_dir: str, output_dir: str,
                 backend: str = "rule", table_io=None, analytics: bool = False,
                 export: bool = False, enrich: bool = False):
        self.spark = spark
        self.input_dir = input_dir
        self.output_dir = output_dir
        self.backend = backend
        self.analytics = analytics
        self.export = export
        self.enrich = enrich
        self.io = table_io if table_io is not None else make_table_io(spark, output_dir)
        self.results: list[StageResult] = []
        self._reset({})
        self._lock = threading.Lock()   # builds the shared lazy tables once

    def _reset(self, tables: dict[str, DataFrame]) -> None:
        """Per-run state: stage outputs once published, their manifests,
        and per stage a future that resolves once its table is published
        (to True when this run built it, False when it resumed) and one
        that resolves to its StageResult once its manifest is done."""
        self.tables = tables
        self.manifests: dict[str, dict] = {}
        self._written: dict[str, Future] = {}
        self._done: dict[str, Future] = {}

    # ------------------------------------------------------------ io

    def _manifest_path(self, name: str, root: str | None = None) -> str:
        # manifests are sidecars under output_dir regardless of the
        # table format (they carry the resume contract)
        return os.path.join(root or self.output_dir, name, "_manifest.json")

    # Manifests go through the Hadoop FileSystem API, not driver-local
    # open(): tools/kg_job.py advertises spark-submit with a warehouse
    # output path, and an hdfs:///s3a:// output_dir must carry the
    # checkpoint-resume contract too (stage data already does via the
    # Spark writers). A run keeps the manifests it writes or resumes in
    # memory; disk is read only for the resume check and the prior
    # output of run_incremental, one file per JVM read.

    def _jpath(self, path: str):
        return self.spark._jvm.org.apache.hadoop.fs.Path(path)

    @cached_property
    def _fs(self):
        return self._jpath(self.output_dir).getFileSystem(
            self.spark._jsc.hadoopConfiguration())

    def _write_text(self, path: str, content: str) -> None:
        out = self._fs.create(self._jpath(path), True)
        try:
            out.write(bytearray(content.encode("utf-8")))
        finally:
            out.close()

    def _read_manifest(self, name: str, root: str | None = None) -> dict | None:
        p = self._jpath(self._manifest_path(name, root))
        if not self._fs.exists(p):
            return None
        stream = self._fs.open(p)
        try:
            return json.loads(stream.readAllBytes())
        finally:
            stream.close()

    def _storage_stats(self, location: str) -> dict:
        """Physical-layout lineage for a stage's written table: file
        count and total bytes (data files only). The capacity metric
        an operator watches alongside row counts — a stage whose bytes
        per row drift is compressing differently (schema or data-
        distribution change) even when rows match. One FS listing, no
        data read; best-effort for table-catalog (Iceberg) locations
        where the directory layout is the catalog's business."""
        try:
            it = self._fs.listFiles(self._jpath(location), True)
            n_files, total = 0, 0
            while it.hasNext():
                st = it.next()
                fname = st.getPath().getName()
                if fname.startswith(("_", ".")):
                    continue            # manifests/_SUCCESS/CRC sidecars
                n_files += 1
                total += st.getLen()
            return {"data_files": n_files, "data_bytes": total}
        except Exception:               # pragma: no cover - remote FS quirks
            return {}

    def _stage_fingerprint(self, name: str, upstream: list[str],
                           extra_fp: dict | None = None) -> dict:
        # Upstream identity = rows + per-write nonce: an upstream
        # rebuilt from changed input with a coincidentally-equal row
        # count still gets a fresh write_id, so downstream stages
        # re-run. A nonce beats a content hash here — zero extra IO
        # (measured: hashing every column of every row cost ~25% of
        # pipeline wall at 1.25M turns) and no false-resume risk; the
        # only loss is re-running downstream after a byte-identical
        # rebuild, which is the safe direction.
        return {
            "config": _fingerprint(),
            "backend": self.backend,
            "model_version": model_version(self.backend),
            "input_dir": self.input_dir,
            "upstream": {
                u: {k: self.manifests.get(u, {}).get(k) for k in ("rows", "write_id")}
                for u in upstream
            },
            **(extra_fp or {}),
        }

    def _run_stage(self, name: str, build, bucket_col: str,
                   upstream: list[str], resume: bool,
                   extra_metrics=None, extra_fp: dict | None = None) -> StageResult:
        """One stage, in its own thread: waits for its upstream tables,
        resumes or builds, writes and publishes its table, then does its
        bookkeeping and, after its upstream manifests, its manifest."""
        written = self._written[name]
        fresh = [u for u in upstream if self._written[u].result()]
        sd = self.io.location(name)
        if resume and not fresh:
            man = self._read_manifest(name)
            if (man and man.get("status") == "complete" and "schema" in man
                    and man.get("fingerprint") == self._stage_fingerprint(
                        name, upstream, extra_fp)):
                self.manifests[name] = man
                self.tables[name] = self.io.read(
                    self.spark, name, StructType.fromJson(man["schema"])).drop("bucket")
                written.set_result(False)
                return StageResult(name, sd, man["rows"], 0.0, True, man)

        t0 = time.time()
        df = build().withColumn(
            "bucket", F.pmod(F.xxhash64(F.col(bucket_col)), F.lit(N_BUCKETS)).cast("int")
        ).repartition("bucket")
        out = self.io.write(self.spark, df, name)
        self.tables[name] = out.drop("bucket")
        written.set_result(True)

        # ONE column-pruned scan for all lineage stats: per-bucket
        # counts + conv range come from a single grouped aggregate
        # (rows = their sum); the parquet reader only decodes the
        # bucket/conv_id columns.
        aggs = [F.count(F.lit(1)).alias("n")]
        has_conv = "conv_id" in out.columns
        if has_conv:
            aggs += [F.min("conv_id").alias("lo"), F.max("conv_id").alias("hi")]
        stats = out.groupBy("bucket").agg(*aggs).collect()
        seconds = round(time.time() - t0, 3)
        rows = sum(r.n for r in stats)
        per_bucket = {int(r.bucket): r.n for r in stats}
        conv_range = None
        if has_conv and stats:
            # SQL MIN/MAX over the bucket ranges: a bucket holding only
            # NULL conv_ids has lo = hi = None and is ignored
            conv_range = [min((r.lo for r in stats if r.lo is not None), default=None),
                          max((r.hi for r in stats if r.hi is not None), default=None)]
        manifest = {
            "stage": name,
            "status": "complete",
            "rows": rows,
            "write_id": uuid.uuid4().hex,
            "per_bucket_rows": per_bucket,
            "conv_id_range": conv_range,
            "seconds": seconds,
            "schema": out.schema.jsonValue(),
            **self._storage_stats(sd),
        }
        if extra_metrics:
            manifest["metrics"] = extra_metrics(out)
        for u in upstream:
            self._done[u].result()
        manifest["fingerprint"] = self._stage_fingerprint(name, upstream, extra_fp)
        self._write_text(self._manifest_path(name),
                         json.dumps(manifest, indent=1, sort_keys=True))
        self.manifests[name] = manifest
        return StageResult(name, sd, rows, seconds, False, manifest)

    # -------------------------------------------------------- stages

    def seed_ball(self) -> DataFrame:
        """One labeled BFS serves khop (min over sources), harmonic
        (per-source rollup) and seed_distances — a lazy checkpoint,
        built only when one of them is, so a fully-resumed run never
        pays for it (once, under the lock: the three build side by
        side)."""
        with self._lock:
            if "seed_ball" not in self.tables:
                self.tables["seed_ball"] = A.seed_ball_distances(
                    self.tables["nodes"], self.tables["edges"]
                ).localCheckpoint(eager=True)
        return self.tables["seed_ball"]

    def _table(self, name: str) -> DataFrame:
        """A build input: a stage table of this run once it is written, a
        ``prior_*`` table of the prior output, or the remap, which is
        built on first use as one eager checkpoint (once, under the lock:
        two merge rows read it)."""
        if name == REMAP.name:
            with self._lock:
                if name not in self.tables:
                    self.tables[name] = REMAP.build(
                        self, *map(self._table, REMAP.inputs)).localCheckpoint(eager=True)
        elif name in self._written:
            self._written[name].result()
        return self.tables[name]

    def _stage(self, st: Stage, resume: bool, prior_fp) -> StageResult:
        """The thread target of one stage row: its build reads its inputs
        when it runs, and a failure fails the stages downstream too."""
        row = MERGES.get(st.name) if prior_fp else None
        inputs = row.inputs if row else st.upstream

        def build() -> DataFrame:
            return (row or st).build(self, *map(self._table, inputs))

        try:
            extra_fp = prior_fp(row.prior if row else ()) if prior_fp else None
            return self._run_stage(st.name, build, st.bucket, list(st.upstream), resume,
                                   extra_metrics=st.metrics, extra_fp=extra_fp)
        except BaseException as e:
            if not self._written[st.name].done():
                self._written[st.name].set_exception(e)   # fails the stages downstream
            raise

    def _run_stages(self, stages, resume: bool, prior_fp=None) -> None:
        """The stage loop of run and run_incremental, one thread per row
        (schedule in the module docstring). With ``prior_fp`` (an
        incremental run) a stage with a merge row builds that row, and
        ``prior_fp(names)`` is the fingerprint extra pinning the prior
        tables the stage reads."""
        for st in stages:
            self._written[st.name] = Future()
        with ThreadPoolExecutor(max_workers=len(stages)) as pool:
            for st in stages:
                # wrapped per task: each thread gets its own copy of the
                # caller's local properties (the job group)
                task = inheritable_thread_target(self.spark)(self._stage)
                self._done[st.name] = pool.submit(task, st, resume, prior_fp)
        done = [self._done[st.name] for st in stages]
        self.results += [f.result() for f in done if f.exception() is None]
        for f in done:
            if f.exception() is not None:
                raise f.exception()

    def _write_summary(self, t_total: float, triples_key: str, **head) -> dict:
        total = round(time.time() - t_total, 3)
        rows = {name: man["rows"] for name, man in self.manifests.items()}
        summary = {
            **head,
            "stages": {r.name: {"rows": r.rows, "seconds": r.seconds, "resumed": r.resumed}
                       for r in self.results},
            "total_seconds": total,
            triples_key: rows["triples"],
            **{name: rows[name] for name in ("nodes", "edges", "relations")},
            "triples_per_sec": round(rows["triples"] / max(total, 1e-9), 1),
            "model_version": model_version(self.backend),
        }
        self._write_text(os.path.join(self.output_dir, "_pipeline_summary.json"),
                         json.dumps(summary, indent=1, sort_keys=True))
        return summary

    def run(self, resume: bool = True) -> dict:
        t_total = time.time()
        stages = KG_STAGES
        for on, rows in ((self.analytics, ANALYTICS_STAGES),
                         (self.export, EXPORT_STAGES),
                         (self.enrich, ENRICH_STAGES)):
            if on:
                stages += rows
        self._reset({})
        self._run_stages(stages, resume)
        return self._write_summary(t_total, "triples")

    # --------------------------------------------------- incremental

    def run_incremental(self, prior_dir: str, resume: bool = True) -> dict:
        """Merge a DELTA of new conversations (``self.input_dir``) into
        a completed prior pipeline output (``prior_dir``): the KG stages
        with their merge rows (``MERGES``; algebra and equivalence proof
        in kg/incremental.py). The output dir is self-contained (merged
        vocab/pairs/components/nodes/edges/relations; delta-only
        triples/triples_norm) so increments CHAIN: the next increment
        points its prior_dir here.

        Contract: delta conv_ids are disjoint from every prior
        increment (new conversations only), guarded by one column-pruned
        semi-join against the prior edge table's conv_id column. The
        join is skipped when the manifests' conv_id ranges show that no
        conv_id can be in both (``conv_ranges_may_meet``).

        Stage resume fingerprints additionally pin the write_ids of the
        prior tables the stage reads, so pointing the same output at a
        rebuilt prior re-runs the merge rather than false-resuming. A
        prior table the merge reads must have a complete manifest that
        carries its schema."""
        if self.analytics or self.export or self.enrich:
            raise ValueError(
                "run_incremental merges the KG stages only: the analytics, "
                "export and enrich rows are not merged (several read the "
                "delta's transcripts alone)")

        t_total = time.time()
        prior = {}          # prior manifests, read once per run
        for n in sorted({p for m in MERGES.values() for p in m.prior}):
            man = self._read_manifest(n, prior_dir) or {}
            if man.get("status") != "complete" or "schema" not in man:
                raise ValueError(
                    f"run_incremental: prior stage {n!r} under {prior_dir} has no "
                    "complete manifest — the merge would read an incomplete output")
            prior[n] = man
        pio = ParquetTableIO(prior_dir)
        self._reset({
            f"prior_{n}": pio.read(self.spark, n, StructType.fromJson(man["schema"]))
            .drop("bucket") for n, man in prior.items()})

        def prior_fp(names: tuple[str, ...]) -> dict:
            return {"prior_dir": prior_dir, "delta": True,
                    "prior": {n: prior[n].get("write_id") for n in names}}

        self._run_stages(KG_STAGES[:1], resume, prior_fp)
        overlap = conv_ranges_may_meet(
            self.manifests["triples"], prior["edges"]) and (
            self.tables["triples"].select("conv_id").distinct()
            .join(self.tables["prior_edges"].select("conv_id").distinct(),
                  "conv_id", "semi")
            .limit(1).count()
        )
        if overlap:
            raise ValueError(
                "run_incremental: delta shares conv_ids with the prior "
                "graph — increments must carry NEW conversations only "
                "(n_convs support merges additively under that contract)")
        self._run_stages(KG_STAGES[1:], resume, prior_fp)
        return self._write_summary(t_total, "delta_triples",
                                   mode="incremental", prior_dir=prior_dir)
