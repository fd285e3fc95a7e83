"""Pipeline checkpoint/lineage/resume tests (M6, north_rule:
'checkpoint-resumable with per-partition lineage + metrics')."""

from __future__ import annotations

import json
import os

import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def pipeline_run(spark, tmp_path_factory):
    from openie_spark.pipeline import KGPipeline

    pipe = KGPipeline(spark, SF, str(tmp_path_factory.mktemp("kg")))
    return pipe, pipe.run(resume=True)


@pytest.fixture(scope="module")
def pipeline_out(pipeline_run):
    pipe, summary = pipeline_run
    return pipe.output_dir, summary


def test_pipeline_summary_counts(pipeline_out):
    out, summary = pipeline_out
    assert summary["triples"] > 0
    assert summary["nodes"] > 0
    assert summary["edges"] > 0
    assert summary["triples_per_sec"] > 0
    assert set(summary["stages"]) == {
        "triples", "triples_norm", "vocab", "pairs", "components", "nodes", "edges",
        "relations"}


def test_summary_counts_are_the_table_counts(spark, pipeline_out):
    out, summary = pipeline_out
    for name in ("triples", "nodes", "edges", "relations"):
        assert summary[name] == spark.read.parquet(os.path.join(out, name)).count(), name


def test_held_tables_have_the_written_schema(spark, pipeline_run):
    """The table a run holds for each stage (its build input downstream)
    has the schema Spark reads back from the written files: same
    fields, types, nullability and metadata."""
    from openie_spark.pipeline import KG_STAGES

    pipe, _ = pipeline_run
    for st in KG_STAGES:
        written = spark.read.parquet(pipe.io.location(st.name)).drop("bucket")
        assert pipe.tables[st.name].schema == written.schema, st.name


def test_write_summary_runs_no_spark_job(pipeline_run, job_ids):
    """The summary's counts come from the run's manifests, not from
    count() queries over the stage tables."""
    import time

    pipe, summary = pipeline_run
    again, jobs = job_ids("summary-guard",
                          lambda: pipe._write_summary(time.time(), "triples"))
    assert jobs == []
    assert {k: again[k] for k in ("triples", "nodes", "edges", "relations")} == \
        {k: summary[k] for k in ("triples", "nodes", "edges", "relations")}


def test_table_write_runs_only_the_write_jobs(spark, tmp_path, job_ids):
    """ParquetTableIO.write returns the written table without a
    schema-inference job: it runs exactly the jobs of a plain
    ``df.write.parquet`` of the same frame."""
    from pyspark.sql import functions as F

    from openie_spark.pipeline import ParquetTableIO

    df = spark.range(200).select(
        F.col("id"), (F.col("id") % 7).alias("k"),
        F.concat(F.lit("x"), F.col("id").cast("string")).alias("s")).repartition(3, "k")
    _, plain = job_ids("plain-write", lambda: df.write.parquet(str(tmp_path / "plain")))
    io = ParquetTableIO(str(tmp_path))
    cols, seam = job_ids("seam-write",
                         lambda: io.write(spark, df, "seam").columns)
    assert plain and len(seam) == len(plain)
    assert cols == df.columns


def test_manifests_lineage(pipeline_out):
    out, summary = pipeline_out
    for stage in ("triples", "vocab", "components", "nodes", "edges", "relations"):
        with open(os.path.join(out, stage, "_manifest.json")) as f:
            man = json.load(f)
        assert man["status"] == "complete"
        assert man["rows"] == summary["stages"][stage]["rows"]
        # per-partition lineage: bucket counts sum to total rows
        assert sum(man["per_bucket_rows"].values()) == man["rows"]
        assert man["fingerprint"]["model_version"] == "rule-v1"
    with open(os.path.join(out, "triples", "_manifest.json")) as f:
        tman = json.load(f)
    lo, hi = tman["conv_id_range"]
    assert lo.startswith("conv-") and hi >= lo
    with open(os.path.join(out, "vocab", "_manifest.json")) as f:
        vman = json.load(f)
    assert "skew" in vman["metrics"]


def test_manifest_fingerprints_carry_the_upstream_manifests(spark, tmp_path):
    """Stages run side by side, but each manifest is written after its
    upstream manifests: its fingerprint pins their rows and write_id
    as they are on disk, for every KG stage. Each stage's bookkeeping
    is held until the stages reading it have written their tables, so
    a downstream manifest that did not wait would see none."""
    import dataclasses

    from openie_spark.pipeline import KG_STAGES, KGPipeline

    pipe = KGPipeline(spark, SF, str(tmp_path))
    readers = {st.name: [d.name for d in KG_STAGES if st.name in d.upstream]
               for st in KG_STAGES}

    def held(st):
        def metrics(out):
            for d in readers[st.name]:
                pipe._written[d].result(timeout=300)
            return st.metrics(out) if st.metrics else {}
        return dataclasses.replace(st, metrics=metrics)

    pipe._run_stages(tuple(held(st) for st in KG_STAGES), resume=False)
    man = {}
    for st in KG_STAGES:
        with open(pipe._manifest_path(st.name)) as f:
            man[st.name] = json.load(f)
    for st in KG_STAGES:
        assert man[st.name]["fingerprint"]["upstream"] == {
            u: {"rows": man[u]["rows"], "write_id": man[u]["write_id"]}
            for u in st.upstream}, st.name


def test_failed_stage_writes_no_manifest_downstream(spark, tmp_path):
    """A stage whose build raises: the error comes out of _run_stages
    after the stages still running are done; neither that stage nor
    any stage downstream of it gets a manifest (the stages upstream
    do), and no thread _run_stages started is left."""
    import dataclasses
    import threading

    from openie_spark.pipeline import KG_STAGES, KGPipeline

    class Boom(RuntimeError):
        pass

    def boom(job, *tables):
        raise Boom("components build failed")

    stages = tuple(dataclasses.replace(st, build=boom) if st.name == "components" else st
                   for st in KG_STAGES)
    pipe = KGPipeline(spark, SF, str(tmp_path))
    before = set(threading.enumerate())
    with pytest.raises(Boom):
        pipe._run_stages(stages, resume=False)
    assert [t for t in threading.enumerate() if t not in before] == []
    with_manifest = {st.name for st in KG_STAGES
                     if os.path.exists(pipe._manifest_path(st.name))}
    assert with_manifest == {"triples", "triples_norm", "vocab", "pairs"}


def test_shared_lazy_table_is_built_once_under_contention(spark, monkeypatch, tmp_path):
    """Stage threads share the lazily built seed ball: with more
    threads than cores and a short switch interval, it is still built
    exactly once and every caller gets the same table."""
    import sys
    import threading

    from openie_spark import pipeline

    builds = []

    def ball(nodes, edges):
        builds.append(1)
        return nodes

    monkeypatch.setattr(pipeline.A, "seed_ball_distances", ball)
    pipe = pipeline.KGPipeline(spark, SF, str(tmp_path))
    pipe.tables.update(nodes=spark.range(3), edges=spark.range(3))
    got = []
    threads = [threading.Thread(target=lambda: got.append(pipe.seed_ball()))
               for _ in range(16)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(builds) == 1
    assert len(got) == 16 and all(g is got[0] for g in got)


def test_run_runs_no_ungrouped_spark_job(spark, tmp_path, job_ids):
    """Every Spark job of a run, whichever stage thread submits it,
    carries the caller's job group."""
    from openie_spark.pipeline import KGPipeline

    tracker = spark.sparkContext.statusTracker()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    before = set(tracker.getJobIdsForGroup(None))      # jobs without a group
    _, jobs = job_ids("run-guard",
                      lambda: KGPipeline(spark, SF, str(tmp_path)).run(resume=False))
    assert jobs
    assert set(tracker.getJobIdsForGroup(None)) - before == set()


def test_null_conv_id_bucket_keeps_sql_min_max_range(spark, tmp_path):
    """A stage bucket that holds only NULL conv_ids must not crash the
    manifest's conv_id_range: the range ignores NULLs, as SQL MIN/MAX
    do."""
    import datetime

    from openie_spark.pipeline import KGPipeline

    ts = datetime.datetime(2024, 1, 1)
    text = "spark group query row data slow small filter customer line"
    turns = [("conv-000001", i, "user", text, None, ts) for i in range(5)]
    turns.append((None, 0, "user", "the fast key order sort table scan merge part", None, ts))
    in_dir = str(tmp_path / "in")
    spark.createDataFrame(
        turns, "conv_id string, turn_idx int, role string, text string, "
               "tool string, ts timestamp",
    ).write.parquet(os.path.join(in_dir, "transcripts.parquet"))

    out = str(tmp_path / "kg")
    KGPipeline(spark, in_dir, out).run(resume=False)
    with open(os.path.join(out, "triples", "_manifest.json")) as f:
        man = json.load(f)
    assert len(man["per_bucket_rows"]) == 2
    assert man["conv_id_range"] == ["conv-000001", "conv-000001"]


def test_conv_ranges_may_meet_rule():
    """run_incremental skips its conv-overlap join exactly when the two
    manifests' conv_id ranges prove no shared conv_id."""
    from openie_spark.pipeline import conv_ranges_may_meet

    def man(r):
        return {"conv_id_range": r}

    lo, hi = man(["conv-000000", "conv-000009"]), man(["conv-000010", "conv-000019"])
    assert not conv_ranges_may_meet(lo, hi)
    assert not conv_ranges_may_meet(hi, lo)
    assert conv_ranges_may_meet(lo, man(["conv-000009", "conv-000012"]))   # touching bound
    assert conv_ranges_may_meet(man(["conv-000003", "conv-000004"]), lo)   # nested
    for empty in (None, [None, None]):        # no rows, or NULL conv_ids only
        assert not conv_ranges_may_meet(lo, man(empty))
        assert not conv_ranges_may_meet(man(empty), lo)
    # code-point order is UTF-8 byte order: "é" (U+00E9) sorts after "z"
    assert not conv_ranges_may_meet(man(["a", "z"]), man(["é", "é"]))


def test_read_transcripts_runs_no_job(spark, job_ids):
    """Deriving transcripts from documents reads the two columns it uses
    with a given schema: building the frame runs no Spark job, and its
    rows are the DuckDB twin's."""
    import duckdb
    from pyspark.sql import functions as F

    from openie_spark.sources.transcripts import TRANSCRIPTS_CTE_DUCKDB, read_transcripts

    df, jobs = job_ids("transcripts-read", lambda: read_transcripts(spark, SF))
    assert jobs == []
    assert df.schema.simpleString() == (
        "struct<conv_id:string,turn_idx:int,role:string,text:string,"
        "tool:string,ts:timestamp>")
    got = sorted(map(tuple, df.select(
        "conv_id", "turn_idx", "role", "text", "tool",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss")).collect()), key=repr)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
    want = sorted(con.execute(
        f"WITH {TRANSCRIPTS_CTE_DUCKDB} SELECT conv_id, turn_idx, role, text, tool, "
        "strftime(ts, '%Y-%m-%d %H:%M:%S') FROM transcripts").fetchall(), key=repr)
    assert len(got) == len(want) > 0
    assert got == want


def test_full_resume_skips_everything(spark, pipeline_out):
    from openie_spark.pipeline import KGPipeline

    out, summary = pipeline_out
    pipe = KGPipeline(spark, SF, out)
    s2 = pipe.run(resume=True)
    assert all(st["resumed"] for st in s2["stages"].values())
    assert s2["triples"] == summary["triples"]
    assert s2["edges"] == summary["edges"]


def test_full_resume_runs_no_spark_job(spark, pipeline_run, job_ids):
    """A fully resumed run reads every stage back with the schema its
    manifest records: no schema-inference job, and the held tables
    have the fresh run's schemas."""
    from openie_spark.pipeline import KG_STAGES, KGPipeline

    fresh, _ = pipeline_run
    pipe = KGPipeline(spark, SF, fresh.output_dir)
    summary, jobs = job_ids("resume-guard", lambda: pipe.run(resume=True))
    assert all(st["resumed"] for st in summary["stages"].values())
    assert jobs == []
    for st in KG_STAGES:
        assert pipe.tables[st.name].schema == fresh.tables[st.name].schema, st.name


def test_manifest_without_schema_reruns_its_stage(spark, pipeline_out):
    """A complete manifest that records no schema (written before
    manifests carried one) re-runs its stage, as a fingerprint
    mismatch does; the rewritten manifest carries the schema."""
    from openie_spark.pipeline import KGPipeline

    out, summary = pipeline_out
    pipe = KGPipeline(spark, SF, out)
    man = pipe._read_manifest("relations")
    del man["schema"]
    pipe._write_text(pipe._manifest_path("relations"), json.dumps(man))
    s2 = pipe.run(resume=True)
    st = s2["stages"]
    assert all(st[n]["resumed"] for n in st if n != "relations")
    assert not st["relations"]["resumed"]
    assert s2["relations"] == summary["relations"]
    assert "schema" in pipe._read_manifest("relations")


def test_partial_resume_rebuilds_dirty_suffix(spark, pipeline_out):
    """Simulate a kill between stages: drop the nodes/edges manifests;
    resume must skip the completed prefix and rebuild only the suffix,
    reproducing identical outputs (idempotent overwrite)."""
    from openie_spark.pipeline import KGPipeline

    out, summary = pipeline_out
    os.remove(os.path.join(out, "nodes", "_manifest.json"))
    os.remove(os.path.join(out, "edges", "_manifest.json"))
    pipe = KGPipeline(spark, SF, out)
    s2 = pipe.run(resume=True)
    st = s2["stages"]
    assert st["triples"]["resumed"] and st["components"]["resumed"]
    assert not st["nodes"]["resumed"] and not st["edges"]["resumed"]
    assert st["nodes"]["rows"] == summary["stages"]["nodes"]["rows"]
    assert st["edges"]["rows"] == summary["stages"]["edges"]["rows"]


def test_no_resume_rebuilds_all(spark, pipeline_out):
    from openie_spark.pipeline import KGPipeline

    out, summary = pipeline_out
    pipe = KGPipeline(spark, SF, out)
    s2 = pipe.run(resume=False)
    assert not any(st["resumed"] for st in s2["stages"].values())
    assert s2["edges"] == summary["edges"]

def test_table_io_seam_defaults_to_parquet(spark, tmp_path):
    """SURVEY §7 TableIO seam: catalog-absent behavior is the round-2
    Parquet+manifest layout, byte-for-byte path-compatible; with a
    configured catalog the pipeline would route through Iceberg
    writeTo() (jar absent in sandbox — routing pinned only)."""
    from openie_spark.pipeline import (
        IcebergTableIO,
        KGPipeline,
        ParquetTableIO,
        make_table_io,
    )

    io = make_table_io(spark, str(tmp_path))
    assert isinstance(io, ParquetTableIO)
    assert io.location("triples") == str(tmp_path / "triples")
    pipe = KGPipeline(spark, "in", str(tmp_path))
    assert isinstance(pipe.io, ParquetTableIO)
    assert pipe._manifest_path("vocab") == str(tmp_path / "vocab" / "_manifest.json")

    spark.conf.set("spark.openie.catalog", "lake")
    try:
        io2 = make_table_io(spark, str(tmp_path))
        assert isinstance(io2, IcebergTableIO)
        assert io2.qualified("triples") == "lake.openie.triples"
        # manifests stay FS sidecars under output_dir either way
        pipe2 = KGPipeline(spark, "in", str(tmp_path))
        assert pipe2._manifest_path("triples") == str(
            tmp_path / "triples" / "_manifest.json")

        # Drive the Iceberg branch as far as the sandbox allows: the
        # write must route into DataFrameWriterV2 against the
        # configured catalog and die on CATALOG resolution (no Iceberg
        # runtime jar / no spark.sql.catalog.lake impl here), NOT on
        # anything in our own plumbing. The error naming the catalog
        # proves the qualified identifier reached Spark's v2 resolver.
        df = spark.range(3).withColumnRenamed("id", "x")
        try:
            io2.write(spark, df, "triples")
            raise AssertionError(
                "iceberg write unexpectedly succeeded without a catalog")
        except Exception as ex:  # AnalysisException / ParseException
            msg = str(ex).lower()
            assert "lake" in msg or "catalog" in msg, msg
    finally:
        spark.conf.unset("spark.openie.catalog")


def test_pipeline_analytics_stages_and_resume(spark, tmp_path_factory):
    """--analytics materializes pagerank/triangles/khop as resumable
    stages: manifests written, rows stable across a resumed re-run."""
    from openie_spark.pipeline import KGPipeline

    out = str(tmp_path_factory.mktemp("kga"))
    s1 = KGPipeline(spark, SF, out, analytics=True).run(resume=True)
    for st in ("pagerank", "triangles", "khop", "communities"):
        assert st in s1["stages"] and s1["stages"][st]["rows"] > 0
        man = json.load(open(os.path.join(out, st, "_manifest.json")))
        assert man["rows"] == s1["stages"][st]["rows"]
    # pagerank/triangles cover every node; khop only the <=K-hop ball
    assert s1["stages"]["pagerank"]["rows"] == s1["nodes"]
    assert s1["stages"]["triangles"]["rows"] == s1["nodes"]
    assert 0 < s1["stages"]["khop"]["rows"] <= s1["nodes"]
    assert s1["stages"]["communities"]["rows"] == s1["nodes"]
    # harmonic: one row per seed that reached anything; seed_distances:
    # ordered seed pairs within K hops (both read the shared BFS ball,
    # so they can't exceed the ball's coverage)
    assert 0 <= s1["stages"]["harmonic"]["rows"] <= s1["stages"]["khop"]["rows"]
    assert s1["stages"]["seed_distances"]["rows"] >= 0
    # kcore may legitimately be empty on a sparse test graph (rows>=0);
    # degree_hist always has >=1 bin when nodes exist
    assert s1["stages"]["kcore"]["rows"] >= 0
    assert 0 < s1["stages"]["degree_hist"]["rows"] <= 65
    # salsa scores every node; cardinality one row per relation; the
    # truss backbone may be empty on a sparse test slice (rows >= 0)
    assert s1["stages"]["salsa"]["rows"] == s1["nodes"]
    assert 0 < s1["stages"]["rel_cardinality"]["rows"]
    assert s1["stages"]["truss"]["rows"] >= 0
    # rules/conflicts may be empty on a sparse slice; the type graph
    # always has >= 1 type pair when edges exist
    assert s1["stages"]["rules"]["rows"] >= 0
    assert s1["stages"]["conflicts"]["rows"] >= 0
    assert 0 < s1["stages"]["type_graph"]["rows"] <= 81
    s2 = KGPipeline(spark, SF, out, analytics=True).run(resume=True)
    assert all(s2["stages"][st]["resumed"]
               for st in ("pagerank", "triangles", "khop", "harmonic",
                          "seed_distances", "communities",
                          "kcore", "degree_hist", "salsa",
                          "rel_cardinality", "truss", "rules",
                          "conflicts", "type_graph"))
    assert {st: s2["stages"][st]["rows"] for st in s2["stages"]} == \
           {st: s1["stages"][st]["rows"] for st in s1["stages"]}


def test_pipeline_export_stages_and_resume(spark, tmp_path_factory):
    """--export materializes the temporal-interval and N-Triples sinks
    as resumable stages; line counts are consistent with nodes +
    distinct relations, intervals are well-formed."""
    from openie_spark.pipeline import KGPipeline

    out = str(tmp_path_factory.mktemp("kge"))
    s1 = KGPipeline(spark, SF, out, export=True).run(resume=True)
    for st in ("temporal", "export_nt"):
        assert st in s1["stages"] and s1["stages"][st]["rows"] > 0
        man = json.load(open(os.path.join(out, st, "_manifest.json")))
        assert man["rows"] == s1["stages"][st]["rows"]
    nt = spark.read.parquet(os.path.join(out, "export_nt"))
    rel_lines = nt.where(~nt.nt.contains("<urn:kg:label>")).count()
    assert nt.count() == s1["nodes"] + rel_lines
    tmp = spark.read.parquet(os.path.join(out, "temporal"))
    assert tmp.where("first_us > last_us").count() == 0
    assert s1["stages"]["temporal"]["rows"] == s1["relations"]
    # the growth curve is day-bounded and cumulative totals end at the
    # graph's distinct entity count
    g = spark.read.parquet(os.path.join(out, "growth"))
    assert 0 < g.count() <= 366
    # growth counts entities with >= 1 edge — a subset of the node
    # table (mention-only entities never reach an edge endpoint)
    assert 0 < g.orderBy(g.day.desc()).first().cum_entities <= s1["nodes"]
    s2 = KGPipeline(spark, SF, out, export=True).run(resume=True)
    assert all(s2["stages"][st]["resumed"]
               for st in ("temporal", "export_nt", "growth"))


def test_pipeline_enrich_stages_and_resume(spark, tmp_path_factory):
    """--enrich materializes typing / schema / salience / coref-edge /
    segment tables as resumable stages with manifests; cross-table
    invariants hold; a resumed re-run skips all five."""
    from openie_spark.pipeline import KGPipeline

    stages = ("entity_types", "schema", "salience", "coref_edges",
              "segments", "timeline", "edge_split", "yield")
    out = str(tmp_path_factory.mktemp("kgn"))
    s1 = KGPipeline(spark, SF, out, enrich=True).run(resume=True)
    for st in stages:
        assert st in s1["stages"]
        man = json.load(open(os.path.join(out, st, "_manifest.json")))
        assert man["rows"] == s1["stages"][st]["rows"]
    # typing covers every node; segments cover every turn
    assert s1["stages"]["entity_types"]["rows"] == s1["nodes"]
    seg = spark.read.parquet(os.path.join(out, "segments"))
    turns = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert seg.count() == turns
    assert seg.where("seg_idx < 0").count() == 0
    # every coref-recovered edge endpoint exists in the nodes table
    ce = spark.read.parquet(os.path.join(out, "coref_edges"))
    nodes = spark.read.parquet(os.path.join(out, "nodes"))
    ids = {r.entity_id for r in nodes.select("entity_id").collect()}
    for r in ce.select("src_id", "dst_id").collect():
        assert r.src_id in ids and r.dst_id in ids
    # split partitions the distinct statements; yield covers every conv
    sp = spark.read.parquet(os.path.join(out, "edge_split"))
    assert sp.count() == sp.select("src_id", "pred", "dst_id").distinct().count()
    y = spark.read.parquet(os.path.join(out, "yield"))
    assert y.where("n_triples > 0").count() > 0
    s2 = KGPipeline(spark, SF, out, enrich=True).run(resume=True)
    assert all(s2["stages"][st]["resumed"] for st in stages)


@pytest.mark.skipif(
    not os.path.exists("/opt/spark/bin/spark-submit"),
    reason="spark-submit launcher not installed")
def test_spark_submit_py_files_launch(tmp_path):
    """The north rule's literal launch mode: `spark-submit --py-files
    <pkg.zip> kg_job.py` from an ISOLATED cwd containing only the
    entrypoint script — every openie_spark import (driver and executor
    python workers alike) must come from the shipped zip, not from a
    repo checkout on sys.path. Runs the full sf0.001 pipeline and
    checks the summary JSON + a manifest landed."""
    import json as _json
    import shutil
    import subprocess
    import sys
    import zipfile

    import openie_spark

    root = os.path.dirname(os.path.dirname(os.path.abspath(openie_spark.__file__)))
    iso = tmp_path / "iso"
    iso.mkdir()
    shutil.copy(os.path.join(root, "tools", "kg_job.py"), iso / "kg_job.py")
    zp = iso / "openie_spark.zip"
    with zipfile.ZipFile(zp, "w") as z:
        for dirpath, _, files in os.walk(os.path.join(root, "openie_spark")):
            for f in files:
                if f.endswith((".py", ".txt")):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, root))
    out_dir = str(tmp_path / "out")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    r = subprocess.run(
        ["/opt/spark/bin/spark-submit", "--master", "local[4]",
         "--py-files", "openie_spark.zip", "kg_job.py",
         "--input", SF, "--output", out_dir,
         "--no-resume", "--shuffle-partitions", "4"],
        cwd=str(iso), env=env, capture_output=True, text=True, timeout=540,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    summary = _json.loads(r.stdout.strip().splitlines()[-1])
    assert summary["triples"] > 0 and summary["nodes"] > 0
    assert summary["edges"] > 0
    man = _json.load(open(os.path.join(out_dir, "triples", "_manifest.json")))
    assert man["rows"] == summary["triples"]


def test_kg_job_python_udf_backend_runs_from_any_cwd(tmp_path):
    """`python <checkout>/tools/kg_job.py` launched from a cwd outside
    the checkout with a Python-UDF backend: the driver finds
    openie_spark through the script's own path, and the executor
    Python workers only through the package kg_job ships to them. The
    shipped zip is removed when the job exits."""
    import json as _json
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["TMPDIR"] = str(tmp_path)
    r = subprocess.run(
        [sys.executable, os.path.join(root, "tools", "kg_job.py"),
         "--input", SF, "--output", str(tmp_path / "out"),
         "--backend", "neural", "--master", "local[2]",
         "--driver-memory", "2g", "--shuffle-partitions", "4"],
        cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=540,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert _json.loads(r.stdout.strip().splitlines()[-1])["triples"] > 0
    assert not list(tmp_path.glob("openie_spark_pkg*"))


def test_kg_job_help_names_every_optional_stage():
    """`tools/kg_job.py --help` names every row of the analytics,
    export and enrich stage tables its three flags add (no JVM)."""
    import re
    import subprocess
    import sys

    from openie_spark.pipeline import ANALYTICS_STAGES, ENRICH_STAGES, EXPORT_STAGES

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [sys.executable, os.path.join(root, "tools", "kg_job.py"), "--help"],
        capture_output=True, text=True, timeout=60, check=True)
    words = set(re.findall(r"\w+", r.stdout))
    stages = (*ANALYTICS_STAGES, *EXPORT_STAGES, *ENRICH_STAGES)
    assert [s.name for s in stages if s.name not in words] == []


def test_manifest_storage_stats(pipeline_out):
    """Every stage manifest carries physical-layout lineage: data file
    count and total bytes of the written table (sidecars excluded)."""
    out, summary = pipeline_out
    for stage in ("triples", "vocab", "nodes", "edges"):
        man = json.load(open(os.path.join(out, stage, "_manifest.json")))
        assert man["data_files"] >= 1
        assert man["data_bytes"] > 0
        # listing excluded the manifest itself and _SUCCESS
        sz = sum(os.path.getsize(os.path.join(out, stage, f))
                 for f in os.listdir(os.path.join(out, stage))
                 if not f.startswith(("_", ".")))
        assert man["data_bytes"] == sz


def test_pipeline_tables_equal_the_driver_shared_tables(spark, pipeline_out):
    """One DAG: the stage tables KGPipeline writes equal, row for row,
    the in-memory tables the driver queries share
    (__spark_entry__._shared), which are built from the same stage
    table with the same defaults."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__",
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "__spark_entry__.py"))
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    out, _ = pipeline_out
    for name in ("triples", "vocab", "pairs", "components", "nodes", "edges"):
        shared = entry._shared(spark, SF, name)
        written = spark.read.parquet(os.path.join(out, name)).select(*shared.columns)
        got = sorted(map(repr, written.collect()))
        assert got and got == sorted(map(repr, shared.collect())), name
