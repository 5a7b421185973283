"""Compute-shape helpers: partitioning decisions that depend on the
input's physical layout, not its logical plan.

``fan_out_narrow`` fixes the one case where "no shuffle" is the wrong
plan: a CPU-heavy narrow pass (per-token hashing, signature votes,
regex batteries) over an input the scan could not split — a single
small file, or a parquet file with one row group. Catalyst sizes scan
partitions by BYTES (``spark.sql.files.maxPartitionBytes``), so a
0.5 MB file becomes ONE task even when the downstream per-row work is
minutes of CPU: every core but one idles. Re-splitting such an input
costs a round-robin exchange of the raw rows — tiny, because the
input provably fits in few partitions — and unlocks full parallelism
for the narrow stage above it.

At 100 TB the corpus scan arrives in thousands of partitions and the
guard no-ops: this helper never adds an exchange to an input that is
already parallel. That asymmetry (tiny input → tiny shuffle, big
input → no shuffle) is what makes it safe to call unconditionally in
front of any CPU-bound pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def fan_out_narrow(df: DataFrame, min_fraction: float = 0.5) -> DataFrame:
    """Repartition ``df`` to cluster default parallelism iff its
    current partition count is below ``min_fraction`` of it.

    The partition probe runs physical planning but no job. An input
    that is already a round-robin split (this helper's own output, so
    calling it twice is free) states its count in the planned physical
    plan; asking ``df.rdd`` there instead would run the split's
    shuffle map stage under AQE just to learn that number. Any other
    input is probed with ``df.rdd.getNumPartitions()``. Round-robin
    repartition is used (not keyed): the goal is core utilization for
    a narrow stage, and round-robin is the only shape that guarantees
    balance regardless of key skew.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    planned = df._jdf.queryExecution().sparkPlan().outputPartitioning()
    if planned.getClass().getSimpleName() == "RoundRobinPartitioning":
        n = planned.numPartitions()
    else:
        n = df.rdd.getNumPartitions()
    if n >= max(1, int(target * min_fraction)):
        return df
    return df.repartition(target)
