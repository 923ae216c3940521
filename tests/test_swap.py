"""Crash contracts of the one rewrite path (plans/swap.py) under
injected failures: one partition's worker raises mid-pool, either
before its marker arms or after it arms with half of the old files
removed; heal plus a re-run must then give the clean result."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from goe_spark.plans import swap
from goe_spark.plans.bloom_skip import (
    BLOOM_MANIFEST_NAME,
    build_bloom_manifest_partitioned,
)
from goe_spark.plans.compaction import compact_partitioned_table
from goe_spark.plans.targeted_delete import delete_rows
from goe_spark.plans.zorder import zorder_partitioned_table

PARTS = ["a", "b", "c", "d"]
VICTIM = "goe_part_key=b"  # second of four: raises while others run
DOOMED = list(range(0, 800, 7))  # hits every partition


class InjectedCrash(Exception):
    pass


OPS = {
    "compact": lambda spark, t: compact_partitioned_table(
        spark, t, max_files_per_partition=1
    ),
    "zorder": lambda spark, t: zorder_partitioned_table(
        spark, t, ["x", "y"], n_files=2
    ),
    "delete": lambda spark, t: delete_rows(spark, t, "id", DOOMED),
}


def _target(spark, path):
    """800 rows over four partitions, three files each."""
    df = spark.range(800).select(
        "id",
        (F.col("id") * 13 % 101).cast("double").alias("x"),
        (F.col("id") % 37).alias("y"),
        F.element_at(
            F.array(*[F.lit(p) for p in PARTS]),
            (F.col("id") % 4 + 1).cast("int"),
        ).alias("goe_part_key"),
    )
    df.repartition(3).write.partitionBy("goe_part_key").parquet(path)


def _rows(spark, path):
    df = spark.read.parquet(path).select("id", "x", "y", "goe_part_key")
    return sorted(tuple(r) for r in df.collect())


def _arm_fails(monkeypatch, target):
    real = swap.atomic_write_json

    def arm(path, obj, *args, **kwargs):
        if path == swap.marker_path(target, VICTIM):
            raise InjectedCrash(path)
        return real(path, obj, *args, **kwargs)

    monkeypatch.setattr(swap, "atomic_write_json", arm)


def _swap_fails_halfway(monkeypatch, target):
    real = swap.complete_swap

    def complete(path, d, old_files):
        if d == VICTIM:
            data = [f for f in old_files if not f.startswith("_")]
            for f in data[: len(data) // 2]:
                os.remove(os.path.join(path, d, f))
            raise InjectedCrash(d)
        return real(path, d, old_files)

    monkeypatch.setattr(swap, "complete_swap", complete)


def _debris(target):
    return [
        n
        for n in os.listdir(target)
        if n.startswith(".compact_swap.") or n.endswith("._compact_tmp")
    ]


@pytest.mark.parametrize("fault", ["before_marker", "mid_swap"])
@pytest.mark.parametrize("op", sorted(OPS))
def test_crash_mid_pool_heals_to_clean_result(
    spark, tmp_path, monkeypatch, op, fault
):
    target = str(tmp_path / "t")
    _target(spark, target)
    before = _rows(spark, target)
    if op == "delete":
        before = [r for r in before if r[0] not in set(DOOMED)]

    with monkeypatch.context() as m:
        if fault == "before_marker":
            _arm_fails(m, target)
        else:
            _swap_fails_halfway(m, target)
        with pytest.raises(InjectedCrash):
            OPS[op](spark, target)
    armed = os.path.exists(swap.marker_path(target, VICTIM))
    assert armed == (fault == "mid_swap")

    swap.heal_interrupted_swaps(target)
    OPS[op](spark, target)

    assert _rows(spark, target) == before
    assert _debris(target) == []
    for d in swap.partition_dirs(target):
        names = set(os.listdir(os.path.join(target, d)))
        crcs = {n[1:-4] for n in names if n.endswith(".crc")}
        assert crcs <= names, f"orphan checksums in {d}"


def test_bloom_build_crash_mid_pool_then_clean_rebuild(
    spark, tmp_path, monkeypatch
):
    from goe_spark.plans import bloom_skip

    target = str(tmp_path / "t")
    _target(spark, target)
    real = bloom_skip.build_bloom_manifest

    def build(spark_, path, cols):
        if os.path.basename(path) == VICTIM:
            raise InjectedCrash(path)
        return real(spark_, path, cols)

    with monkeypatch.context() as m:
        m.setattr(bloom_skip, "build_bloom_manifest", build)
        with pytest.raises(InjectedCrash):
            build_bloom_manifest_partitioned(spark, target, ["id"])
    victim = os.path.join(target, VICTIM)
    assert not os.path.exists(os.path.join(victim, BLOOM_MANIFEST_NAME))

    n = build_bloom_manifest_partitioned(spark, target, ["id"])
    assert n == len(PARTS)
    for d in swap.partition_dirs(target):
        full = os.path.join(target, d)
        assert os.path.exists(os.path.join(full, BLOOM_MANIFEST_NAME))
        ids = {r.id for r in spark.read.parquet(full).select("id").collect()}
        for k in list(ids)[:5]:
            files, _ = bloom_skip.prune_files_bloom(full, {"id": k})
            got = spark.read.parquet(*files).where(F.col("id") == k)
            assert got.count() == 1
