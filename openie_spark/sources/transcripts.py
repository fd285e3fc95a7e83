"""Transcript-table source.

The production input is an Iceberg table with the driver-fixed shape
(BASELINE.json input_hint):

    transcripts(conv_id string, turn_idx int, role string,
                text string, tool string, ts timestamp)

The sandbox testdata has no transcripts parquet, so we DERIVE a
deterministic transcripts table from the driver's ``documents`` table
with pure column arithmetic — the identical derivation is published as
a DuckDB CTE (TRANSCRIPTS_CTE_DUCKDB) so the correctness oracle
reproduces it bit-for-bit. TURNS_PER_CONV consecutive doc_ids fold
into one conversation; role cycles through ROLES; ts is a fixed epoch
plus doc_id minutes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openie_spark.config import ROLES, TURNS_PER_CONV

_EPOCH = "2024-01-01 00:00:00"

# The documents columns the derivation reads, as the shipped and the
# generated corpora store them.
DOCUMENTS_SCHEMA = "doc_id bigint, text string"

# Deterministic tool-name variety for tool-bearing turns (the agent
# corpora this models run many tools; a single constant would make the
# per-tool analytics vacuous). Picked by conversation arithmetic —
# identical in the DuckDB CTE below. SEVEN names: coprime with both
# the 5-turn conversation fold and the 4-role cycle, so multi-tool
# conversations exercise every tool-to-tool transition instead of
# collapsing onto one aligned pair.
TOOLS = ("browse", "calc", "code_run", "db_query",
         "file_read", "search", "shell")


def derive_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents(doc_id, text, …) → transcripts (deterministic). The
    read names the two columns it uses, so building the frame runs no
    schema-inference job."""
    docs = spark.read.schema(DOCUMENTS_SCHEMA).parquet(f"{sf_dir}/documents.parquet")
    role = F.element_at(
        F.array(*[F.lit(r) for r in ROLES]),
        (F.col("doc_id") % len(ROLES)).cast("int") + 1,
    )
    return docs.select(
        F.concat(F.lit("conv-"), F.lpad((F.col("doc_id") / TURNS_PER_CONV).cast("long").cast("string"), 6, "0")).alias("conv_id"),
        (F.col("doc_id") % TURNS_PER_CONV).cast("int").alias("turn_idx"),
        role.alias("role"),
        F.col("text"),
        F.when(role == "tool", F.element_at(
            F.array(*[F.lit(t) for t in TOOLS]),
            (F.expr(f"doc_id DIV {len(ROLES)}") % len(TOOLS)).cast("int") + 1,
        )).otherwise(F.lit(None).cast("string")).alias("tool"),
        F.timestamp_add("MINUTE", F.col("doc_id"), F.lit(_EPOCH).cast("timestamp")).alias("ts"),
    )


# Identical derivation in DuckDB dialect; composed as the leading CTE of
# every oracle query (see __spark_entry__.oracle_sql).
TRANSCRIPTS_CTE_DUCKDB = f"""
transcripts AS (
  SELECT
    'conv-' || lpad(CAST(doc_id // {TURNS_PER_CONV} AS VARCHAR), 6, '0') AS conv_id,
    CAST(doc_id % {TURNS_PER_CONV} AS INT) AS turn_idx,
    CASE CAST(doc_id % {len(ROLES)} AS INT)
      {' '.join(f"WHEN {i} THEN '{r}'" for i, r in enumerate(ROLES))}
    END AS role,
    text,
    CASE WHEN CAST(doc_id % {len(ROLES)} AS INT) = {ROLES.index('tool')} THEN
      CASE CAST((doc_id // {len(ROLES)}) % {len(TOOLS)} AS INT)
        {' '.join(f"WHEN {i} THEN '{t}'" for i, t in enumerate(TOOLS))}
      END
    END AS tool,
    TIMESTAMP '{_EPOCH}' + doc_id * INTERVAL '1 minute' AS ts
  FROM documents
)"""


def read_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read transcripts.parquet when present; otherwise derive from
    documents (sandbox path). Production: swap for an Iceberg catalog
    read — the schema contract is identical."""
    import os

    p = f"{sf_dir}/transcripts.parquet"
    if os.path.exists(p):
        return spark.read.parquet(p)
    return derive_transcripts(spark, sf_dir)
