"""Seeded fixtures of the benchmark.

Everything the workloads read is derived from the read-only TPC-H-ish
test data (``$GOE_BENCH_TESTDATA``, default: the parent of the
program's own data directory, ``goe_spark.catalog.DEFAULT_SF_DIR``) and
written under ``benchmark/.data``:

- ``derby-v<N>/``: an embedded Derby database holding the sf0.1
  ``ORDERS`` table (150k rows), created with unquoted upper-case DDL
  (Spark's own ``write.jdbc`` CREATE quotes lower-case names, which
  the MOD-split scan then cannot resolve), plus per-month row counts
  and the 1995 order keys the seeded inputs draw from. Built once per
  construction version; the per-run views bounded at a high-water
  mark are created on demand.
- ``inputs/<workload>-seed<S>-v<N>.json``: the seeded inputs of one
  lifecycle run (HWM sequence, takedown list, CDC batch, hybrid-view
  query parameters). The program only ever sees these.

A fixture whose ``meta.json`` does not carry the current construction
version (or whose source file changed) is rebuilt. ``summary()``
gives the rows, bytes, files and partitions of each fixture.
"""

from __future__ import annotations

import json
import os
import random
import shutil

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, ".data")
ORDERS_SF = "sf0.1"
QUERY_SF = "sf0.01"

DERBY_VERSION = 1
INPUTS_VERSION = 4

ORDERS_DDL = (
    "CREATE TABLE ORDERS ("
    "O_ORDERKEY BIGINT NOT NULL PRIMARY KEY, "
    "O_CUSTKEY BIGINT, "
    "O_ORDERSTATUS VARCHAR(1), "
    "O_TOTALPRICE DOUBLE, "
    "O_ORDERDATE TIMESTAMP, "
    "O_ORDERPRIORITY VARCHAR(20))"
)


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under a file or directory."""
    if os.path.isfile(path):
        return os.path.getsize(path), 1
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


def _read_meta(path: str) -> dict | None:
    try:
        with open(os.path.join(path, "meta.json")) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def _write_meta(path: str, meta: dict) -> None:
    tmp = os.path.join(path, "meta.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(meta, fh, sort_keys=True)
    os.replace(tmp, os.path.join(path, "meta.json"))


def testdata() -> str:
    """Root of the read-only test data (one ``sf*`` directory per scale)."""
    from goe_spark.catalog import DEFAULT_SF_DIR

    return os.environ.get("GOE_BENCH_TESTDATA") or os.path.dirname(
        DEFAULT_SF_DIR.rstrip("/")
    )


def source_file(sf: str, table: str) -> str:
    return os.path.join(testdata(), sf, f"{table}.parquet")


def check_sources(tables: list[tuple[str, str]]) -> None:
    missing = [source_file(sf, t) for sf, t in tables if not os.path.exists(source_file(sf, t))]
    if missing:
        raise FileNotFoundError(f"benchmark source data missing: {missing}")


# -- Derby frontend ---------------------------------------------------


def derby_dir() -> str:
    return os.path.join(DATA_DIR, f"derby-v{DERBY_VERSION}")


def derby_url() -> str:
    return f"jdbc:derby:{os.path.join(derby_dir(), 'db')}"


def _jdbc_connect(spark, url: str):
    jvm = spark._jvm
    jvm.Class.forName("org.apache.derby.iapi.jdbc.AutoloadedDriver")
    return jvm.java.sql.DriverManager.getConnection(url)


def jdbc_scalar(spark, url: str, sql: str):
    conn = _jdbc_connect(spark, url)
    try:
        rs = conn.createStatement().executeQuery(sql)
        rs.next()
        return rs.getObject(1)
    finally:
        conn.close()


def _derby_fresh(meta: dict | None) -> bool:
    src = source_file(ORDERS_SF, "orders")
    return (
        meta is not None
        and meta.get("version") == DERBY_VERSION
        and meta.get("source_bytes") == os.path.getsize(src)
        and os.path.isdir(os.path.join(derby_dir(), "db"))
    )


def ensure_derby(spark) -> dict:
    """Build the Derby frontend if absent or stale; return its meta."""
    from pyspark.sql import functions as F

    check_sources([(ORDERS_SF, "orders")])
    meta = _read_meta(derby_dir())
    if _derby_fresh(meta):
        return meta
    shutil.rmtree(derby_dir(), ignore_errors=True)
    os.makedirs(derby_dir())
    src = source_file(ORDERS_SF, "orders")
    url = derby_url()
    conn = _jdbc_connect(spark, url + ";create=true")
    try:
        conn.createStatement().execute(ORDERS_DDL)
    finally:
        conn.close()
    orders = spark.read.parquet(src).withColumn(
        "o_orderdate", F.col("o_orderdate").cast("timestamp")
    )
    orders.toDF(*[c.upper() for c in orders.columns]).write.option(
        "batchsize", 5000
    ).jdbc(url, "ORDERS", mode="append")
    month = F.date_format("o_orderdate", "yyyy-MM")
    per_month = {
        r["m"]: r["n"]
        for r in orders.groupBy(month.alias("m")).agg(F.count("*").alias("n")).collect()
    }
    keys_1995: dict[str, list[int]] = {}
    for r in (
        orders.where(F.year("o_orderdate") == 1995)
        .select(month.alias("m"), "o_orderkey")
        .collect()
    ):
        keys_1995.setdefault(r["m"], []).append(int(r["o_orderkey"]))
    for v in keys_1995.values():
        v.sort()
    meta = {
        "version": DERBY_VERSION,
        "source_bytes": os.path.getsize(src),
        "rows": sum(per_month.values()),
        "rows_per_month": per_month,
        "keys_1995": keys_1995,
    }
    _write_meta(derby_dir(), meta)
    return meta


def bounded_view(spark, hwm_month: str) -> str:
    """A Derby view over the frontend rows at or below ``hwm_month``
    (``YYYY-MM``) — the frontend side of agg-validate."""
    y, m = (int(x) for x in hwm_month.split("-"))
    y, m = (y + 1, 1) if m == 12 else (y, m + 1)
    name = f"ORDERS_UPTO_{hwm_month.replace('-', '_')}"
    conn = _jdbc_connect(spark, derby_url())
    try:
        rs = conn.getMetaData().getTables(None, None, name, None)
        if not rs.next():
            conn.createStatement().execute(
                f"CREATE VIEW {name} AS SELECT * FROM ORDERS "
                f"WHERE O_ORDERDATE < TIMESTAMP('{y:04d}-{m:02d}-01 00:00:00')"
            )
    finally:
        conn.close()
    return name


def shutdown_derby(spark) -> None:
    """Close the embedded database so its files are consistent on exit."""
    try:
        _jdbc_connect(spark, derby_url() + ";shutdown=true").close()
    except Exception:  # noqa: BLE001 - Derby signals shutdown by raising
        pass


# -- seeded inputs ----------------------------------------------------


def _write_inputs(name: str, seed: int, inputs: dict) -> dict:
    d = os.path.join(DATA_DIR, "inputs")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{name}-seed{seed}-v{INPUTS_VERSION}.json")
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(inputs, fh, sort_keys=True)
    os.replace(tmp, path)
    return inputs


def lifecycle_inputs(seed: int, meta: dict) -> dict:
    """Seeded inputs of one offload-lifecycle run. The amount of work
    is the same for every seed; the seed picks which rows it touches.

    - HWM sequence: the initial offload moves 1995-01, then two
      appends move one month each (three backend partitions).
    - takedown list: 100 order keys of one seeded month of the target
      (date-clustered, so bloom pruning has partitions to skip).
    - CDC batch: 200 keys of the other months whose price and priority
      change; unique per key.
    - hybrid-view queries: one backend-side key lookup and one
      frontend-side month range above the final HWM.
    """
    rng = random.Random(seed)
    hwms = ["1995-01", "1995-02", "1995-03"]
    keys = meta["keys_1995"]
    target_months = [m for m in sorted(keys) if m <= hwms[-1]]
    takedown_month = rng.choice(target_months)
    takedown = sorted(rng.sample(keys[takedown_month], 100))
    rest = sorted(
        k for m in target_months if m != takedown_month for k in keys[m]
    )
    cdc = sorted(rng.sample(rest, 200))
    cdc_batch = [[k, rng.randint(1, 9999) / 100.0] for k in cdc]
    cdc_set = set(cdc)
    lookup = rng.choice([k for k in rest if k not in cdc_set])
    months = sorted(m for m in meta["rows_per_month"] if m > hwms[-1])
    range_month = rng.choice(months[:-1])
    per_month = meta["rows_per_month"]
    expected = {
        "initial_rows": sum(n for m, n in per_month.items() if m <= hwms[0]),
        "append_rows": [per_month[h] for h in hwms[1:]],
        "range_rows": per_month[range_month],
        "total_rows": meta["rows"],
    }
    return _write_inputs(
        "offload_lifecycle",
        seed,
        {
            "hwms": hwms,
            "takedown_month": takedown_month,
            "takedown": takedown,
            "cdc_batch": cdc_batch,
            "lookup_key": lookup,
            "range_month": range_month,
            "expected": expected,
        },
    )


# -- summary ----------------------------------------------------------


def summary() -> dict:
    """Rows, bytes, files and partitions of each fixture."""
    out = {}
    meta = _read_meta(derby_dir())
    if meta is not None:
        b, f = _dir_bytes(os.path.join(derby_dir(), "db"))
        out["derby_orders"] = {
            "rows": meta["rows"],
            "bytes": b,
            "files": f,
            "partitions": len(meta["rows_per_month"]),
        }
    qdir = os.path.join(testdata(), QUERY_SF)
    if os.path.isdir(qdir):
        import pyarrow.parquet as pq

        files = sorted(f for f in os.listdir(qdir) if f.endswith(".parquet"))
        footers = [pq.ParquetFile(os.path.join(qdir, f)).metadata for f in files]
        out["query_tables"] = {
            "dir": qdir,
            "rows": sum(m.num_rows for m in footers),
            "bytes": _dir_bytes(qdir)[0],
            "files": len(files),
            "partitions": sum(m.num_row_groups for m in footers),
        }
    return out
