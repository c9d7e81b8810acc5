"""The one partition planner for row-local work.

A row-local stage (the extraction kernel's ``mapInPandas``, a per-row
text-statistics battery) runs one task per input partition, so a batch
input staged as one parquet split keeps one core busy however many the
session has.  :func:`spread` is the single place that decides whether to
round-robin such an input across the cores; the extraction entry points
and the compute-heavy ops all call it.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame


def spread(df: DataFrame, partitions: Optional[int] = None) -> DataFrame:
    """``df`` round-robin repartitioned for row-local work.

    * ``partitions`` set: repartition to exactly that count (the caller's
      rebalance, e.g. ``jobs/extract.py --rebalance``).
    * A streaming input is returned unchanged: its micro-batches take
      their partitions from the source.
    * A batch input whose plan shuffles is returned unchanged: adaptive
      execution sizes that shuffle only when it runs, and asking its
      partition count here would run it.
    * Otherwise a batch input with fewer partitions than the session's
      ``defaultParallelism`` is repartitioned to ``defaultParallelism``;
      one with at least that many is returned unchanged.  The check costs
      one listing-level ``getNumPartitions`` and runs no job, so a
      many-split corpus pays nothing.

    Rows are unchanged: row-local work commutes with repartitioning."""
    if partitions:
        return df.repartition(partitions)
    if df.isStreaming:
        return df
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        return df
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df
