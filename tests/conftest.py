from __future__ import annotations

import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from goe_spark.session import get_spark

    # Driver parity: run the test session ANSI-on (the driver's
    # correctness gate does) so ANSI-semantics bugs (DIVIDE_BY_ZERO,
    # CAST_INVALID_INPUT) surface locally instead of shipping.
    # GOE_TEST_ANSI=0 restores the engine's non-ANSI default.
    ansi = os.environ.get("GOE_TEST_ANSI", "1").lower() in ("1", "true")
    s = get_spark(
        "goe-spark-tests",
        shuffle_partitions=8,
        extra_conf={"spark.sql.ansi.enabled": "true" if ansi else "false"},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMALL}/{t}.parquet'"
        )
    yield con


@pytest.fixture(scope="session")
def _offloaded_orders_once(spark, tmp_path_factory):
    """One offload of orders to a month-partitioned parquet target per
    session; tests take private copies through ``offloaded_orders``."""
    from goe_spark.plans.offload import (
        OffloadConfig,
        OffloadPipeline,
        PartitionSpec,
    )

    root = tmp_path_factory.mktemp("offloaded_orders")
    spec = PartitionSpec(
        source_column="o_orderdate", kind="date", granularity="M"
    )
    src = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    cfg = OffloadConfig(
        owner="tpch",
        table_name="orders",
        target_dir=str(root / "final"),
        staging_dir=str(root / "staging"),
        metadata_dir=str(root / "meta"),
        partition=spec,
    )
    OffloadPipeline(spark, cfg).run(src)
    return root, spec


@pytest.fixture
def offloaded_orders(spark, _offloaded_orders_once, tmp_path):
    """Orders offloaded to a month-partitioned parquet target — shared
    by the targeted-delete and merge test suites. Each test gets its
    own copy of the session's offload (final/, staging/ and meta/
    under its tmp_path) and its own source DataFrame (tests may
    mutate its cached schema). Returns (target_dir, source_df,
    PartitionSpec)."""
    root, spec = _offloaded_orders_once
    src = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    for sub in ("final", "staging", "meta"):
        if os.path.exists(root / sub):
            shutil.copytree(root / sub, tmp_path / sub)
    return str(tmp_path / "final"), src, spec


def partition_file_map(path):
    """{partition_dir: {file: mtime}} for byte-stability assertions."""
    out = {}
    for d in os.listdir(path):
        full = os.path.join(path, d)
        if "=" in d and not d.startswith(".") and os.path.isdir(full):
            out[d] = {
                f: os.path.getmtime(os.path.join(full, f))
                for f in os.listdir(full)
                if not f.startswith(("_", "."))
            }
    return out
