"""Per-file Bloom-filter manifest for equality-predicate file skipping.

The z-order manifest (plans/zorder.py) prunes RANGE predicates via
per-file min/max; it is useless for point lookups on high-cardinality
keys whose values are spread across every file's range (the takedown /
right-to-be-forgotten scan, a CDC key probe, "fetch doc_id = X").
A per-file Bloom filter answers exactly that: "can this file contain
key = v?" with no false negatives, so a point predicate reads only
the files whose filter fires. This is the same trade Parquet
bloom_filter_enabled and Delta's bloom-filter index make; here it is
an explicit manifest built from stock aggregates so the pruning
happens at FILE granularity before Spark even lists row groups.

Construction (one pass per indexed column):
- map-side: k = {K_HASHES} bit positions per value, from the
  cross-engine md5 hash64 (functions/hashing.py) pushed through the
  (a*h + b) mod p universal family and folded mod m = {M_BITS}. All
  JVM expressions, no UDF.
- one narrow shuffle groups positions per (file): collect_set is
  bounded by m per file regardless of row count.
- manifest JSON: {file: {col: sorted set-bit positions}} next to the
  data, same lifecycle discipline as the z-order manifest.

Probing runs on the DRIVER with hashlib.md5 — bit-identical to the
Spark expression by construction (pinned by a property test), so a
prune is pure Python over the manifest: no Spark job, no scan.

At 100 TB: the manifest holds <= m ints per (file, col) — thousands
of files times a few KB — while a fired filter skips whole files the
min/max manifest must read. False positives cost one extra file read;
false negatives cannot happen (the no-false-negative property is the
test suite's invariant, not a hope).
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from goe_spark.functions.hashing import MERSENNE_P, hash64, minhash_coeffs
from goe_spark.plans.metadata import atomic_write_json
from goe_spark.plans.swap import (
    for_each_partition,
    partition_dirs,
    read_manifest_entries,
)

M_BITS = 1024  # filter width per (file, column)
K_HASHES = 4  # probes per value
BLOOM_MANIFEST_NAME = "_bloom_manifest.json"
_FILE = "__bfile"

# Fixed (a, b) pairs — same deterministic LCG family minhash uses, a
# different seed so bloom positions never correlate with signatures.
_COEFFS = minhash_coeffs(K_HASHES, seed=20240814)


def _positions_expr(col: str) -> list:
    """k Spark-side bit positions of a column value."""
    h = F.pmod(hash64(F.col(col).cast("string")), F.lit(MERSENNE_P))
    return [
        F.pmod(h * F.lit(a) + F.lit(b), F.lit(MERSENNE_P)) % F.lit(M_BITS)
        for a, b in _COEFFS
    ]


def value_positions(value) -> list[int]:
    """The SAME k positions computed driver-side: md5 of str(value)
    (Spark's cast-to-string of ints/strings is Python's str), first
    15 hex chars as the 60-bit hash, then the identical arithmetic."""
    h = int(hashlib.md5(str(value).encode()).hexdigest()[:15], 16) % MERSENNE_P
    return [((h * a + b) % MERSENNE_P) % M_BITS for a, b in _COEFFS]


def _mpath(path: str) -> str:
    return os.path.join(path, BLOOM_MANIFEST_NAME)


def build_bloom_manifest(
    spark: SparkSession, path: str, cols: list[str]
) -> dict:
    """Build and persist the per-file Bloom manifest for ``cols``.

    One aggregate pass per column; each pass shuffles at most
    (n_files x m) position rows after map-side set-dedup. NULLs are
    skipped (a NULL never matches an equality probe)."""
    manifest: dict[str, dict[str, list[int]]] = {}
    for col in cols:
        df = (
            spark.read.parquet(path)
            .where(F.col(col).isNotNull())
            .select(
                F.input_file_name().alias(_FILE),
                F.explode(F.array(*_positions_expr(col))).alias("pos"),
            )
        )
        rows = (
            df.groupBy(_FILE)
            .agg(F.sort_array(F.collect_set("pos")).alias("ps"))
            .collect()
        )
        for r in rows:
            fname = os.path.basename(r[_FILE])
            manifest.setdefault(fname, {})[col] = [int(p) for p in r.ps]
    atomic_write_json(_mpath(path), manifest, indent=None)
    return manifest


def _prune(
    path: str, probes: dict[str, list[list[int]]]
) -> tuple[list[str], int]:
    """Files that may hold, for every probed column they index, at
    least one of its values (as bit positions); (survivors, total)."""
    entries = read_manifest_entries(path, BLOOM_MANIFEST_NAME)

    def may_hold(entry: dict | None) -> bool:
        for c, values in probes.items():
            bits = (entry or {}).get(c)
            if bits is not None and not any(map(set(bits).issuperset, values)):
                return False
        return True

    out = [f for f, entry in entries if may_hold(entry)]
    return out, len(entries)


def prune_files_bloom(
    path: str, equals: dict[str, object]
) -> tuple[list[str], int]:
    """Files that can contain ALL the equality predicates in
    ``equals`` (col -> value): a file survives iff, for every probed
    column it has a filter for, all k positions are set. Files absent
    from the manifest (written after the build) survive — correct,
    just unpruned. Returns (surviving file paths, total data files)."""
    return _prune(path, {c: [value_positions(v)] for c, v in equals.items()})


def read_pruned_bloom(
    spark: SparkSession, path: str, equals: dict[str, object]
) -> tuple[DataFrame | None, int, int]:
    """Bloom-pruned read: (DataFrame over surviving files | None if
    zero survive, n_read, n_total). The caller still applies the
    exact predicate — same contract as zorder.read_pruned."""
    files, total = prune_files_bloom(path, equals)
    if not files:
        return None, 0, total
    return spark.read.parquet(*files), len(files), total

# --- partitioned layouts -------------------------------------------------


def build_bloom_manifest_partitioned(
    spark: SparkSession, path: str, cols: list[str]
) -> int:
    """One Bloom manifest per partition directory; returns the number
    of partitions indexed. Each partition's build is independent (run
    from plans/swap.py's driver pool), so an incremental pipeline
    rebuilds only partitions it rewrote."""
    dirs = partition_dirs(path)

    def _one(d: str) -> None:
        build_bloom_manifest(spark, os.path.join(path, d), cols)

    for_each_partition(spark, _one, dirs)
    return len(dirs)


def prune_files_bloom_in(
    path: str, col: str, keys: list
) -> tuple[list[str], int]:
    """Files that can contain ``col`` IN ``keys`` (any-of probe) in a
    FLAT directory: a file survives iff at least one key's positions
    are all set (or the file/column is unindexed). Same no-false-
    negative contract as the single-value probe."""
    return _prune(path, {col: [value_positions(k) for k in keys]})


def prune_partitioned_bloom_in(
    path: str, col: str, keys: list
) -> tuple[list[str], int]:
    """The any-of probe across every partition of a Hive-partitioned
    root. Returns (surviving file paths, total data files) — the
    phase-1 scan bound for a targeted delete: partitions whose every
    file's filter rejects every doomed key are never read at all."""
    files: list[str] = []
    total = 0
    for d in partition_dirs(path):
        sub, n = prune_files_bloom_in(os.path.join(path, d), col, keys)
        files.extend(sub)
        total += n
    return files, total
