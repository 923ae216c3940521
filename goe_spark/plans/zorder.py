"""Z-order (Morton-curve) clustering on write + a per-file min/max
manifest for multi-dimensional file skipping.

The reference clusters backend tables for scan locality on ONE
leading-column prefix (BigQuery CLUSTER BY, rendered in this repo as
``plans/sort_columns.py`` sortWithinPartitions). A linear sort prunes
only predicates on the leading column: sort 100 TB by (custkey) and a
predicate on totalprice still reads every file. Interleaving the bits
of several columns into one Morton key and range-partitioning on it
gives every clustered column bounded per-file value ranges — a
predicate on ANY of the columns skips most files. This is the same
trade Delta Lake OPTIMIZE ZORDER BY and Databricks data skipping make;
here it is built from stock Spark operators:

1. stats pass: one ``agg(min, max)`` per clustered column (O(1) rows
   to the driver);
2. map-side: scale each column linearly to a ``BITS``-bit integer rank
   and bit-interleave the ranks into one long — pure JVM expressions
   inside whole-stage codegen, no UDF;
3. ``repartitionByRange(n_files, z)`` + ``sortWithinPartitions(z)``:
   each output file covers a contiguous Morton range, i.e. a small
   hyper-rectangle of the clustered space;
4. manifest pass: per-file min/max of the clustered columns (grouped
   on ``input_file_name``), persisted as JSON next to the data.

``read_pruned`` then intersects a conjunction of range predicates with
the manifest and hands Spark only the surviving files. At 100 TB the
manifest is thousands of rows of bounds — driver-trivial — while the
skipped bytes are the win; parquet row-group stats still apply inside
every file that survives. Linear min/max ranking keeps the rank pass
one-shot; heavily skewed columns would use range-partition ranks
(a sampled sort) instead — stated trade-off, same downstream plan.

Scope: numeric, date and timestamp columns (dates rank by epoch day,
timestamps by epoch micros). Strings would rank by sampled quantile —
not implemented, rejected loudly.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DateType,
    NumericType,
    TimestampNTZType,
    TimestampType,
)

from goe_spark.plans.metadata import atomic_write_json
from goe_spark.plans.swap import (
    for_each_partition,
    heal_interrupted_swaps,
    partition_dirs,
    read_manifest_entries,
    rewrite_partition,
)

BITS = 16  # rank bits per column; 4 columns max fills a signed long
MANIFEST_NAME = "_zorder_manifest.json"
_FILE = "__zfile"


def _rankable(df: DataFrame, col: str) -> F.Column:
    """The column as a double suitable for linear min/max ranking."""
    t = df.schema[col].dataType
    if isinstance(t, NumericType):
        return F.col(col).cast("double")
    if isinstance(t, DateType):
        return F.datediff(F.col(col), F.lit("1970-01-01")).cast("double")
    if isinstance(t, (TimestampType, TimestampNTZType)):
        return F.unix_micros(F.col(col).cast("timestamp")).cast("double")
    raise ValueError(
        f"zorder supports numeric/date/timestamp columns; {col!r} is "
        f"{t.simpleString()} (string ranking needs sampled quantiles)"
    )


def zvalue_expr(
    df: DataFrame, cols: list[str], stats: dict[str, tuple[float, float]]
) -> F.Column:
    """The interleaved Morton key as a Column. ``stats`` maps column ->
    (min, max) from the stats pass. NULL ranks as 0 (start of the
    curve) — range predicates never match NULL rows, so their
    placement only affects locality, not pruning correctness."""
    if not 2 <= len(cols) <= 64 // BITS:
        raise ValueError(
            f"zorder needs 2..{64 // BITS} columns, got {len(cols)}"
        )
    max_rank = (1 << BITS) - 1
    ranks = []
    for c in cols:
        lo, hi = stats[c]
        if lo is None or hi == lo:
            ranks.append(F.lit(0).cast("long"))
            continue
        scaled = (_rankable(df, c) - F.lit(float(lo))) / F.lit(
            float(hi) - float(lo)
        )
        ranks.append(
            F.coalesce(
                F.least(
                    F.floor(scaled * (max_rank + 1)).cast("long"),
                    F.lit(max_rank).cast("long"),
                ),
                F.lit(0).cast("long"),
            )
        )
    return _interleave(ranks)


def _interleave(ranks: list) -> F.Column:
    """Bit-interleave BITS-bit rank columns into one Morton key."""
    z = F.lit(0).cast("long")
    n = len(ranks)
    for bit in range(BITS):
        for j, r in enumerate(ranks):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(r, bit).bitwiseAND(F.lit(1)),
                    bit * n + j,
                )
            )
    return z


def _quantile_z(df: DataFrame, cols: list[str]) -> DataFrame:
    """``df`` + a ``__z`` Morton key built from EQUI-DEPTH ranks: each
    column is bucketed on its own approx quantile cuts (one
    Greenwald-Khanna pass for all columns), so a heavily skewed
    distribution still spreads over the full rank range — the linear
    min/max ranking collapses such a column onto a few rank values and
    its dimension stops contributing locality. Bucket boundaries come
    from pyspark.ml's Bucketizer (JVM binary search per row); columns
    whose data has fewer distinct quantiles get proportionally scaled
    ranks. NULLs land in Bucketizer's invalid bucket and rank LAST
    (capped at max rank) — placement only affects locality, never
    pruning correctness (range predicates don't match NULL)."""
    from pyspark.ml.feature import Bucketizer

    if not 2 <= len(cols) <= 64 // BITS:
        raise ValueError(
            f"zorder needs 2..{64 // BITS} columns, got {len(cols)}"
        )
    # Quantile granularity is deliberately COARSER than the rank range
    # (2^10 equi-depth buckets rescaled onto the 2^16 rank scale): a
    # Greenwald-Khanna sketch's size grows ~1/relativeError, so asking
    # for 65535 cuts at 4e-6 error would blow up driver memory on any
    # real table — 1024 buckets bound the sketch while still giving
    # file-grain layouts (even 4096 files only consume 12 curve bits).
    n_buckets = 1 << 10
    probs = [i / n_buckets for i in range(1, n_buckets)]
    work = df.select(
        "*", *[_rankable(df, c).alias(f"__v{j}") for j, c in enumerate(cols)]
    )
    cuts = work.approxQuantile(
        [f"__v{j}" for j in range(len(cols))], probs, 1.0 / (4 * n_buckets)
    )
    splits_arr, in_cols, out_cols = [], [], []
    for j in range(len(cols)):
        distinct = sorted(set(cuts[j]))
        splits_arr.append(
            [float("-inf"), *distinct, float("inf")]
        )
        in_cols.append(f"__v{j}")
        out_cols.append(f"__b{j}")
    buck = Bucketizer(
        splitsArray=splits_arr,
        inputCols=in_cols,
        outputCols=out_cols,
        handleInvalid="keep",
    )
    bucketed = buck.transform(work)
    max_rank = (1 << BITS) - 1  # rescale buckets onto the full range
    ranks = []
    for j in range(len(cols)):
        nb = len(splits_arr[j]) - 1
        scale = (max_rank + 1) / nb
        ranks.append(
            F.coalesce(
                F.least(
                    F.floor(F.col(f"__b{j}") * scale).cast("long"),
                    F.lit(max_rank).cast("long"),
                ),
                F.lit(0).cast("long"),
            )
        )
    return bucketed.withColumn("__z", _interleave(ranks)).drop(
        *in_cols, *out_cols
    )


@dataclass
class ZorderReport:
    n_files: int
    cols: list[str]
    manifest_path: str


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 16,
    rank: str = "linear",
) -> ZorderReport:
    """Write ``df`` as ``n_files`` parquet files clustered on the
    Morton curve over ``cols``, then build the per-file min/max
    manifest. The data written is bit-identical in content to ``df``
    (layout only).

    ``rank``: 'linear' (one min/max pass; right when values spread
    evenly) or 'quantile' (equi-depth ranks from an approx-quantile
    pass; right when a column is heavily skewed — linear ranking
    collapses a skewed column onto a few rank values and its dimension
    stops skipping files). The manifest stores raw value bounds either
    way, so pruning semantics are identical."""
    spark = df.sparkSession
    if rank == "quantile":
        zdf = _quantile_z(df, cols)
    elif rank == "linear":
        row = df.agg(
            *[
                F.min(_rankable(df, c)).alias(f"lo_{i}")
                for i, c in enumerate(cols)
            ],
            *[
                F.max(_rankable(df, c)).alias(f"hi_{i}")
                for i, c in enumerate(cols)
            ],
        ).first()
        stats = {
            c: (row[f"lo_{i}"], row[f"hi_{i}"]) for i, c in enumerate(cols)
        }
        zdf = df.withColumn("__z", zvalue_expr(df, cols, stats))
    else:
        raise ValueError(f"rank must be 'linear' or 'quantile': {rank!r}")
    (
        zdf.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
    manifest = build_manifest(spark, path, cols)
    return ZorderReport(
        n_files=len(manifest), cols=list(cols), manifest_path=_mpath(path)
    )


def _mpath(path: str) -> str:
    return os.path.join(path, MANIFEST_NAME)


def build_manifest(
    spark: SparkSession, path: str, cols: list[str]
) -> dict[str, dict[str, list]]:
    """{file_name: {col: [min, max]}} over the clustered columns,
    persisted to MANIFEST_NAME inside ``path``. One aggregate pass
    grouped on input_file_name; at 100 TB the same bounds come free
    from the parquet footers — this keeps the semantics engine-visible
    and testable. Bounds are stored on the RANK scale (epoch
    days/micros for temporal columns) so JSON stays typed-neutral."""
    df = spark.read.parquet(path)
    per_file = (
        df.select(
            F.input_file_name().alias(_FILE),
            *[_rankable(df, c).alias(c) for c in cols],
        )
        .groupBy(_FILE)
        .agg(
            *[F.min(c).alias(f"lo_{c}") for c in cols],
            *[F.max(c).alias(f"hi_{c}") for c in cols],
        )
        .collect()
    )
    manifest = {
        os.path.basename(r[_FILE]): {
            c: [r[f"lo_{c}"], r[f"hi_{c}"]] for c in cols
        }
        for r in per_file
    }
    atomic_write_json(_mpath(path), manifest)
    return manifest


def prune_files(
    path: str, bounds: dict[str, tuple[float | None, float | None]]
) -> tuple[list[str], int]:
    """Files whose manifest ranges intersect EVERY (lo, hi) bound
    (None = unbounded on that side; bounds on the rank scale — epoch
    days/micros for temporal columns). Returns (surviving file paths,
    total data files). Files the manifest does not describe survive.
    A file with NULL-only bounds for a bounded column is skipped —
    range predicates never match NULL."""
    entries = read_manifest_entries(path, MANIFEST_NAME)
    survivors = [
        f
        for f, colstats in entries
        if colstats is None or _intersects(colstats, bounds, path)
    ]
    return survivors, len(entries)


def _intersects(colstats: dict, bounds: dict, path: str) -> bool:
    for c, (lo, hi) in bounds.items():
        if c not in colstats:
            raise KeyError(f"{c!r} not in zorder manifest for {path}")
        fmin, fmax = colstats[c]
        if fmin is None:
            return False
        if (lo is not None and fmax < lo) or (hi is not None and fmin > hi):
            return False
    return True


def read_pruned(
    spark: SparkSession,
    path: str,
    bounds: dict[str, tuple[float | None, float | None]],
) -> tuple[DataFrame | None, int, int]:
    """Manifest-pruned read: (DataFrame over surviving files | None if
    zero survive, n_read, n_total). The caller still applies the exact
    predicate — the manifest only shrinks the file list, the same
    contract as partition pruning."""
    files, total = prune_files(path, bounds)
    if not files:
        return None, 0, total
    return spark.read.parquet(*files), len(files), total


@dataclass
class PartitionedZorderReport:
    partitions_rewritten: int = 0
    partitions_healed: int = 0
    files_after: int = 0


def zorder_partitioned_table(
    spark: SparkSession,
    path: str,
    cols: list[str],
    partition_col: str = "goe_part_key",
    n_files: int = 4,
    rank: str = "linear",
) -> PartitionedZorderReport:
    """Re-cluster EVERY partition of a Hive-partitioned target on the
    Morton curve, each behind plans/swap.py's marker-driven crash-safe
    swap — so zorder composes with the offload layout instead of
    refusing it (the flat CLI path): partition pruning on
    ``partition_col`` stays native, and the per-partition manifest
    adds file skipping WITHIN each partition.

    The clustered copy and its manifest are complete in the swap's
    temp dir before the marker arms; file names survive the move, so
    the manifest moves in with the files and stays valid. Any crash
    is healed by the next run (which this one begins with).
    Partitions are rewritten from swap's bounded driver pool."""
    report = PartitionedZorderReport()
    report.partitions_healed = len(heal_interrupted_swaps(path))
    part_dirs = partition_dirs(path, partition_col)
    if not part_dirs:
        raise ValueError(
            f"{path} has no {partition_col}= partition directories; "
            "use write_zordered for flat tables"
        )

    def rewrite(d: str):
        return rewrite_partition(
            spark,
            path,
            d,
            lambda df, tmp: write_zordered(
                df, tmp, cols, n_files=n_files, rank=rank
            ),
        )

    for rw in for_each_partition(spark, rewrite, part_dirs):
        report.files_after += rw.files_after
        report.partitions_rewritten += 1
    return report


def read_pruned_partitioned(
    spark: SparkSession,
    path: str,
    bounds: dict[str, tuple[float | None, float | None]],
    partition_col: str = "goe_part_key",
) -> tuple[DataFrame | None, int, int]:
    """Manifest-pruned read across a partitioned target: every
    partition's manifest shrinks its file list (a manifest-less
    partition contributes all its files — correct, just unpruned);
    the union reads with basePath so ``partition_col`` survives.
    Returns (DataFrame | None, files_read, files_total)."""
    files: list[str] = []
    total = 0
    for d in partition_dirs(path, partition_col):
        keep, n = prune_files(os.path.join(path, d), bounds)
        files.extend(keep)
        total += n
    if not files:
        return None, 0, total
    return (
        spark.read.option("basePath", path).parquet(*files),
        len(files),
        total,
    )
