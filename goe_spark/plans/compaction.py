"""Small-file compaction for offloaded targets.

Incremental offloads append; every chunk writes its own files into
each partition, so a long-running migration fragments the target
(the classic small-file problem: file-listing latency, tiny row
groups, scan task overhead). The reference leans on the warehouse to
manage storage; a parquet-on-DFS backend has to do it itself.

Spark-first design: selection is metadata-only (file listing, no data
read); only partitions whose file count exceeds the threshold are
rewritten. Rewrites are per-partition so restart scope is one
partition, and untouched partitions keep their files byte-identical.

Crash safety is plans/swap.py's marker swap, the one rewrite path
shared with targeted delete, merge and partitioned z-order: the
compacted copy is complete and row-checked in a hidden temp dir
before the partition is touched, and every run first heals a swap a
crash interrupted. Partitions are compacted from swap's bounded
driver pool.

At 100 TB you run this as a background janitor over partitions the
chunker has finished with (HWM-closed partitions never receive new
appends, so compaction and ingest don't race).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from goe_spark.plans.swap import (
    data_files,
    for_each_partition,
    heal_interrupted_swaps,
    partition_dirs,
    rewrite_partition,
)


@dataclass
class CompactionReport:
    partitions_scanned: int = 0
    partitions_compacted: int = 0
    partitions_healed: int = 0
    files_before: int = 0
    files_after: int = 0
    details: list = field(default_factory=list)  # (partition, before, after)


def compact_partitioned_table(
    spark: SparkSession,
    path: str,
    partition_col: str = "goe_part_key",
    max_files_per_partition: int = 4,
    target_files: int = 1,
) -> CompactionReport:
    """Rewrite every partition directory holding more than
    ``max_files_per_partition`` data files down to ``target_files``.
    Data is bit-stable: the rewrite is a plain read+coalesce+write of
    the same rows (verified by row count before the swap). Begins by
    healing any swap a previous crash interrupted."""
    report = CompactionReport()
    report.partitions_healed = len(heal_interrupted_swaps(path))
    todo: dict[str, int] = {}  # partition -> files before
    for d in partition_dirs(path, partition_col):
        n = len(data_files(os.path.join(path, d)))
        report.partitions_scanned += 1
        report.files_before += n
        if n > max_files_per_partition:
            todo[d] = n
        else:
            report.files_after += n

    def coalesce(df, tmp):
        df.coalesce(target_files).write.mode("overwrite").parquet(tmp)

    def compact(d):
        return rewrite_partition(spark, path, d, coalesce)

    for rw in for_each_partition(spark, compact, list(todo)):
        report.partitions_compacted += 1
        report.files_after += rw.files_after
        report.details.append((rw.partition, todo[rw.partition], rw.files_after))
    return report
