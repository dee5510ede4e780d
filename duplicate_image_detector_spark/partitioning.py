"""Scan-parallelism floor for expensive Python kernels.

A single parquet file with one row group scans as ONE partition no matter
how many cores the session has (`spark.sql.files.minPartitionNum` cannot
split below row-group granularity), so every `mapInArrow`/`mapInPandas`
kernel downstream of such a scan runs single-task (guide §2.5 "input
skew: one huge unsplittable file — repartition immediately after the
read").

``ensure_min_parallelism`` is the scale-adaptive guard, sized by BYTES,
not by core count: the repartition floor is ``estimated_size /
maxPartitionBytes`` (capped at the session's parallelism), i.e. exactly
the parallelism the scan itself would have had were the file splittable.
Consequences at the two extremes:

  * a small input (fits one split) keeps its single partition — measured
    on the sf0.1 pipeline, blanket-repartitioning tiny inputs to 32
    partitions DOUBLED the flagship wall (32 near-empty Arrow batches x
    per-task setup per Python stage dwarfs the kernel itself);
  * a big unsplittable input (10 GB single row group) fans out to the
    full core count, un-serializing the kernel.

At production scale inputs already carry hundreds of partitions and the
guard is a no-op — the corpus is never shuffled for it.
"""

from __future__ import annotations

import logging

from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame

_log = logging.getLogger(__name__)

_DEFAULT_TARGET_BYTES = 32 << 20  # matches session maxPartitionBytes


def _estimated_bytes(df: DataFrame) -> int | None:
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except (Py4JError, PySparkException) as exc:
        # a streaming plan has no statistics (AnalysisException); a Spark
        # Connect DataFrame has no JVM plan handle
        _log.warning(
            "no plan size estimate (%r): parallelism floor falls back to "
            "the core count", exc,
        )
        return None


def ensure_min_parallelism(
    df: DataFrame,
    floor: int | None = None,
    target_bytes: int = _DEFAULT_TARGET_BYTES,
) -> DataFrame:
    """Round-robin repartition ``df`` up to ``floor`` partitions iff it
    currently has fewer AND its estimated size warrants them (>= one
    ``target_bytes`` split per partition).  No-op whenever the input is
    already parallel enough or too small to split — the at-scale case
    and the local-bench case respectively.  Row-wise kernels are
    partitioning-invariant, so output values are unchanged either way."""
    sc = df.sparkSession.sparkContext
    if floor is None:
        floor = sc.defaultParallelism
    size = _estimated_bytes(df)
    if size is not None:
        floor = min(floor, max(1, size // target_bytes))
    if floor <= 1:
        return df
    try:
        n = df.rdd.getNumPartitions()
    except (Py4JError, PySparkException) as exc:
        # neither a streaming nor a Spark Connect DataFrame exposes an RDD
        _log.warning(
            "no partition count (%r): input left as it is, not "
            "repartitioned", exc,
        )
        return df
    if n >= floor:
        return df
    return df.repartition(floor)
