"""Scan-width guard for unsplittable small inputs.

The sandbox datasets are single-row-group parquet files: Spark cannot
split ONE row group, so every scan of events/documents/embeddings arrives
as a single partition and all row-local work (regex scrubs, gram folds,
pandas kernels, join probes) serializes on one core until the first
exchange (guide §2.5 — "one huge unsplittable file: repartition
immediately after the read").  ``widen_if_narrow`` round-robin
repartitions ONLY when the input has fewer partitions than the cluster's
parallelism — at real scale (thousands of splits) it is a no-op and adds
no shuffle.  Every narrow-scan widen in the engine goes through this one
helper, so the ``WIDEN_NARROW_SCANS`` knob covers all of them.

Safety: only correct for operators whose results are
aggregation-ORDER-free — integer counts, min/max, row-local projections,
windows/joins with deterministic total tie-breaks.  A float SUM's
addition order changes with partitioning, so bit-exact-oracled float
aggregates (coordinate averages etc.) must NOT pass through this.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def widen_if_narrow(df: DataFrame) -> DataFrame:
    from .config import knob

    if not knob("WIDEN_NARROW_SCANS"):
        return df
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df
