"""Shared Spark helpers."""

from __future__ import annotations

from typing import Dict, List

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

# Logical nodes that put a shuffle (or other full execution) between the scan
# and the probe: calling .rdd.getNumPartitions() above one of these makes AQE
# EXECUTE the upstream plan to size the shuffle (the round-1 trap, CLAUDE.md).
_WIDE_CLASSES = frozenset(
    {
        "Join",
        "Aggregate",
        "Window",
        "Sort",
        "Deduplicate",
        "Repartition",
        "RepartitionByExpression",
        "RebalancePartitions",
        "GlobalLimit",
        "Intersect",
        "Except",
        "FlatMapGroupsInPandas",
        "FlatMapCoGroupsInPandas",
        "FlatMapGroupsWithState",
    }
)

# Leaves below which nothing re-executes on probe: file scans, already-
# materialized caches, localCheckpoint results, literal data.
_SAFE_LEAVES = frozenset(
    {"LogicalRelation", "LogicalRelationWithTable", "InMemoryRelation", "LogicalRDD", "LocalRelation"}
)


def _has_wide_node(plan) -> bool:
    name = plan.getClass().getSimpleName()
    if name in _SAFE_LEAVES:
        return False
    if name in _WIDE_CLASSES:
        return True
    children = plan.children()
    return any(_has_wide_node(children.apply(i)) for i in range(children.size()))


def spread(df: DataFrame, *cols: str, expected_partitions: int = None) -> DataFrame:
    """Ensure ``df`` runs at cluster parallelism.

    Single-file sandbox tables scan as 1 partition, and AQE coalesces
    small-in-bytes shuffles to 1 partition — both serialize downstream
    compute-heavy (UDF/hash-heavy) stages whose per-row cost dwarfs their
    byte size. No-op when the input is already spread (the 100 TB case).

    Partition-count probing is only safe on scan-rooted (or materialized:
    cached / localCheckpointed) plans — probing above a shuffle makes AQE
    execute the upstream plan. That invariant is now ENFORCED: a wide,
    un-materialized input raises unless the caller passes
    ``expected_partitions`` (the count it knows the plan produces).
    """
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if expected_partitions is None:
        if not (df.storageLevel.useMemory or df.storageLevel.useDisk):
            optimized = df._jdf.queryExecution().optimizedPlan()
            if _has_wide_node(optimized):
                raise ValueError(
                    "spread(): input plan contains a shuffle-introducing node; "
                    "probing its partition count would execute the upstream "
                    "plan under AQE. Persist/localCheckpoint the input first, "
                    "or pass expected_partitions explicitly."
                )
        expected_partitions = df.rdd.getNumPartitions()
    if expected_partitions >= parallelism:
        return df
    return df.repartition(parallelism, *cols) if cols else df.repartition(parallelism)


def local_frame(spark: SparkSession, columns: Dict[str, List], schema) -> DataFrame:
    """A DataFrame over columns built on the driver (``schema``: StructType
    or DDL string), planned as a LocalRelation.

    ``createDataFrame`` on a list of rows parallelizes pickled rows through
    a PythonRDD, so every scan of the result — each write, each broadcast
    build — runs Python tasks (~0.4 s a job on 4 cores for a 1000-row
    table) and keeps an extra set of Python workers alive. An Arrow table
    below ``spark.sql.execution.arrow.localRelationThreshold`` (48 MB)
    becomes a LocalRelation, above it a JVM-only RDD of Arrow batches:
    either way its scans are plain JVM tasks."""
    return spark.createDataFrame(pa.table(columns), schema)
