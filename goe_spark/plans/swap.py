"""The one crash-safe rewrite path for parquet targets: compaction,
targeted delete (and so merge), z-order and the Bloom index rewrite
through here, and nothing else knows the on-disk protocol.

Partition swap: the new copy of partition ``d`` is written to the
hidden temp dir ``.<d>._compact_tmp`` and row-checked; only then is
the marker ``.compact_swap.<d>.json`` (the old file list) written
atomically, the old files deleted, the new ones moved in under the
same names (so a manifest written with the copy stays valid) and the
marker removed. Every operation heals first: a marker means a crash
mid-swap, which the heal completes; a marker-less temp dir is debris
from before the marker and is discarded. A swap drops each per-file
manifest of the partition the copy does not replace.

Flat swap: the copy is written to ``<target>.zorder_tmp``, then the
target is renamed to ``<target>.zorder_old``, the copy renamed in and
the old copy removed; the heal undoes or finishes each crash point.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

from goe_spark.plans.metadata import atomic_write_json

_TMP_SUFFIX = "._compact_tmp"
_MARKER_PREFIX = ".compact_swap."


def data_files(d: str) -> list[str]:
    """Sorted names of the data files in ``d``: regular files not
    hidden by a ``_`` or ``.`` prefix, as Spark reads them."""
    return sorted(
        f
        for f in os.listdir(d)
        if not f.startswith(("_", ".")) and os.path.isfile(os.path.join(d, f))
    )


def partition_dirs(path: str, partition_col: str | None = None) -> list[str]:
    """Sorted ``col=value`` directories under ``path`` (only
    ``partition_col``'s when given); hidden entries are debris."""
    prefix = f"{partition_col}=" if partition_col else ""
    return sorted(
        d
        for d in os.listdir(path)
        if not d.startswith(("_", "."))
        and "=" in d
        and d.startswith(prefix)
        and os.path.isdir(os.path.join(path, d))
    )


def read_manifest_entries(
    d: str, manifest_name: str
) -> list[tuple[str, dict | None]]:
    """(path, manifest entry or None) for every data file in ``d``.
    The list comes from the directory: a file the manifest does not
    describe gets None (a pruner must keep it), and entries for files
    that are gone are ignored."""
    try:
        with open(os.path.join(d, manifest_name)) as fh:
            manifest = json.load(fh)
    except FileNotFoundError:
        manifest = {}
    return [(os.path.join(d, f), manifest.get(f)) for f in data_files(d)]


def tmp_dir(path: str, d: str) -> str:
    return os.path.join(path, f".{d}{_TMP_SUFFIX}")


def marker_path(path: str, d: str) -> str:
    return os.path.join(path, f"{_MARKER_PREFIX}{d}.json")


def _manifest_names() -> tuple[str, ...]:
    from goe_spark.plans.bloom_skip import BLOOM_MANIFEST_NAME
    from goe_spark.plans.zorder import MANIFEST_NAME

    return (BLOOM_MANIFEST_NAME, MANIFEST_NAME)


def complete_swap(path: str, d: str, old_files: list[str]) -> int:
    """Finish a marker-recorded swap (idempotent): remove the listed
    old files and their checksums, move the temp files and manifests
    in, clean up. Returns the partition's data-file count."""
    full = os.path.join(path, d)
    tmp = tmp_dir(path, d)
    for f in old_files:
        for p in (os.path.join(full, f), os.path.join(full, f".{f}.crc")):
            with contextlib.suppress(FileNotFoundError):
                os.remove(p)
    if os.path.isdir(tmp):
        for f in data_files(tmp):
            shutil.move(os.path.join(tmp, f), os.path.join(full, f))
        for m in _manifest_names():
            if os.path.exists(os.path.join(tmp, m)):
                os.replace(os.path.join(tmp, m), os.path.join(full, m))
        shutil.rmtree(tmp)
    os.remove(marker_path(path, d))
    return len(data_files(full))


def heal_interrupted_swaps(path: str) -> list[str]:
    """Complete every marker-armed swap and discard marker-less temp
    dirs. Returns the healed partition names."""
    healed = []
    for name in sorted(os.listdir(path)):
        if name.startswith(_MARKER_PREFIX) and name.endswith(".json"):
            with open(os.path.join(path, name)) as fh:
                marker = json.load(fh)
            complete_swap(path, marker["partition"], marker["old_files"])
            healed.append(marker["partition"])
    for name in sorted(os.listdir(path)):
        if name.endswith(_TMP_SUFFIX) and not os.path.exists(
            marker_path(path, name[1 : -len(_TMP_SUFFIX)])
        ):
            shutil.rmtree(os.path.join(path, name))
    return healed


@dataclass
class PartitionRewrite:
    partition: str
    rows_before: int
    rows_after: int
    files_after: int | None  # None: nothing removed, swap skipped


def rewrite_partition(
    spark: SparkSession,
    path: str,
    d: str,
    write: Callable[[DataFrame, str], object],
    removes_rows: bool = False,
) -> PartitionRewrite:
    """Rewrite partition ``d`` of ``path`` behind the marker swap:
    ``write(df, tmp)`` writes the new copy of its rows (and may leave
    a manifest in ``tmp``). The copy must keep the row count or, with
    ``removes_rows``, shrink it; an unchanged count then skips the
    swap."""
    full = os.path.join(path, d)
    old_files = data_files(full)
    df = spark.read.parquet(full)
    n_before = df.count()
    tmp = tmp_dir(path, d)
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    write(df, tmp)
    n_after = spark.read.parquet(tmp).count()
    if removes_rows and n_after == n_before:
        shutil.rmtree(tmp)
        return PartitionRewrite(d, n_before, n_after, None)
    if n_after > n_before or (n_after < n_before and not removes_rows):
        shutil.rmtree(tmp)
        raise RuntimeError(
            f"rewrite changed the rows of {d}: {n_before} -> {n_after}"
        )
    # Listed in the marker, so a heal drops them too.
    doomed = old_files + [
        m
        for m in _manifest_names()
        if os.path.exists(os.path.join(full, m))
        and not os.path.exists(os.path.join(tmp, m))
    ]
    # Marker BEFORE touching the partition: from here a crash at any
    # point is completed by the next heal.
    atomic_write_json(marker_path(path, d), {"partition": d, "old_files": doomed})
    return PartitionRewrite(d, n_before, n_after, complete_swap(path, d, doomed))


def for_each_partition(
    spark: SparkSession, fn: Callable[[str], object], dirs: list[str]
) -> list:
    """``[fn(d) for d in dirs]`` on a driver pool of at most 4 threads,
    which overlaps the small per-partition Spark jobs. Threads inherit
    the caller's Spark local properties (job groups follow the work);
    the first failure is raised once every started call has ended."""
    if not dirs:
        return []
    with ThreadPoolExecutor(max_workers=min(4, len(dirs))) as tp:
        return list(tp.map(inheritable_thread_target(spark)(fn), dirs))


def _flat_names(target: str) -> tuple[str, str]:
    return f"{target}.zorder_tmp", f"{target}.zorder_old"


def heal_flat_swap(target: str) -> bool:
    """Finish or discard a half-done flat swap of ``target`` (no
    trailing slash). Returns whether anything was healed."""
    tmp, old = _flat_names(target)
    healed = os.path.isdir(old) or os.path.isdir(tmp)
    if os.path.isdir(old) and not os.path.isdir(target):
        os.rename(old, target)  # crash between the two renames
    elif os.path.isdir(old):
        shutil.rmtree(old)  # crash while removing the old copy
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)  # crash before the renames
    return healed


def flat_swap(target: str, write: Callable[[str], object]):
    """Heal, let ``write(tmp)`` write the complete new copy of the flat
    table ``target`` (no trailing slash), swap it in; returns what
    ``write`` returned."""
    heal_flat_swap(target)
    tmp, old = _flat_names(target)
    out = write(tmp)
    os.rename(target, old)
    os.rename(tmp, target)
    shutil.rmtree(old)
    return out
