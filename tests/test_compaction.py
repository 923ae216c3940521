"""Small-file compaction (plans/compaction.py): fragmented partitions
collapse to few files with identical data; quiet partitions are
untouched."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from goe_spark.plans.compaction import compact_partitioned_table
from tests.conftest import SF_SMALL


def _files(d):
    return sorted(
        f for f in os.listdir(d) if not f.startswith(("_", "."))
        and os.path.isfile(os.path.join(d, f))
    )


def test_compaction_reduces_files_preserves_data(spark, tmp_path):
    target = str(tmp_path / "t")
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet").withColumn(
        "goe_part_key", F.date_format("o_orderdate", "yyyy")
    )
    # Fragment: 6 append rounds, each repartitioned -> many files/partition.
    for i in range(6):
        orders.where(F.col("o_orderkey") % 6 == i).repartition(3).write.mode(
            "append"
        ).partitionBy("goe_part_key").parquet(target)

    before_total = spark.read.parquet(target).count()
    before_sum = spark.read.parquet(target).agg(
        F.round(F.sum("o_totalprice"), 2)
    ).first()[0]
    part_dirs = [d for d in os.listdir(target) if d.startswith("goe_part_key=")]
    assert any(len(_files(os.path.join(target, d))) > 4 for d in part_dirs)

    rpt = compact_partitioned_table(spark, target, max_files_per_partition=4)
    assert rpt.partitions_compacted > 0
    assert rpt.files_after < rpt.files_before
    for d in part_dirs:
        assert len(_files(os.path.join(target, d))) <= 4

    after = spark.read.parquet(target)
    assert after.count() == before_total
    assert after.agg(F.round(F.sum("o_totalprice"), 2)).first()[0] == before_sum

    # Idempotent: second run touches nothing.
    rpt2 = compact_partitioned_table(spark, target, max_files_per_partition=4)
    assert rpt2.partitions_compacted == 0
    assert rpt2.files_before == rpt2.files_after


def test_quiet_partitions_untouched(spark, tmp_path):
    target = str(tmp_path / "t")
    df = spark.range(100).withColumn("goe_part_key", F.lit("a"))
    df.coalesce(1).write.partitionBy("goe_part_key").parquet(target)
    pdir = os.path.join(target, "goe_part_key=a")
    before = _files(pdir)
    mtimes = {f: os.path.getmtime(os.path.join(pdir, f)) for f in before}
    rpt = compact_partitioned_table(spark, target, max_files_per_partition=4)
    assert rpt.partitions_compacted == 0
    assert _files(pdir) == before
    assert all(
        os.path.getmtime(os.path.join(pdir, f)) == mtimes[f] for f in before
    )


def test_heal_completes_interrupted_swap(spark, tmp_path):
    """Crash mid-swap (marker written, old files partially deleted,
    tmp still holding the compacted data): the next run's heal must
    restore exactly the original rows."""
    import shutil

    from goe_spark.plans.compaction import compact_partitioned_table
    from goe_spark.plans.metadata import atomic_write_json
    from goe_spark.plans.swap import heal_interrupted_swaps
    from goe_spark.plans.swap import tmp_dir as _tmp_dir

    target = str(tmp_path / "t")
    df = spark.range(1000).withColumn("goe_part_key", F.lit("a"))
    for _ in range(3):
        df.repartition(3).write.mode("append").partitionBy(
            "goe_part_key"
        ).parquet(target)
    pdir = os.path.join(target, "goe_part_key=a")
    expected = spark.read.parquet(target).count()
    old_files = _files(pdir)

    # Build the crash state by hand: compacted tmp + marker, then
    # delete HALF the old files (crash mid-delete).
    tmp = _tmp_dir(target, "goe_part_key=a")
    spark.read.parquet(pdir).coalesce(1).write.parquet(tmp)
    atomic_write_json(
        os.path.join(target, ".compact_swap.goe_part_key=a.json"),
        {"partition": "goe_part_key=a", "old_files": old_files},
    )
    for f in old_files[: len(old_files) // 2]:
        os.remove(os.path.join(pdir, f))

    healed = heal_interrupted_swaps(target)
    assert healed == ["goe_part_key=a"]
    assert spark.read.parquet(target).count() == expected
    assert len(_files(pdir)) == 1
    assert not os.path.exists(tmp)

    # And a full compaction run on the healed table is a clean no-op.
    rpt = compact_partitioned_table(spark, target, max_files_per_partition=4)
    assert rpt.partitions_compacted == 0


def test_markerless_tmp_discarded(spark, tmp_path):
    """Crash BEFORE the marker: the partition is intact and the
    orphan tmp dir is removed, not half-swapped in."""
    from goe_spark.plans.swap import heal_interrupted_swaps
    from goe_spark.plans.swap import tmp_dir as _tmp_dir

    target = str(tmp_path / "t")
    df = spark.range(100).withColumn("goe_part_key", F.lit("a"))
    df.coalesce(1).write.partitionBy("goe_part_key").parquet(target)
    expected = spark.read.parquet(target).count()
    tmp = _tmp_dir(target, "goe_part_key=a")
    df.drop("goe_part_key").coalesce(1).write.parquet(tmp)

    assert heal_interrupted_swaps(target) == []
    assert not os.path.exists(tmp)
    assert spark.read.parquet(target).count() == expected
