"""Partition-shape helpers.

``spread`` exists because a compute-heavy narrow stage inherits the
scan's partitioning: a small parquet file arrives as 1-2 splits, so a
projection doing thousands of hash/array operations per row runs on
1-2 of the cluster's cores. Repartitioning first costs one tiny
shuffle of the raw rows and buys full parallelism for the expensive
projection. At real scale the scan already has >= cores splits and
``spread`` is a no-op — it never ADDS a shuffle to a big input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition up to the session default parallelism when the
    plan's current partitioning is narrower; identity otherwise."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, *cols) if cols else df.repartition(target)
