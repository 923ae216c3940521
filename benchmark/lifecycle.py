"""Workload ``offload_lifecycle``: the paper's product path, end to end.

Frontend: the embedded Derby ``ORDERS`` table (sf0.1, 150k rows);
backend: three monthly partitions (1995-01..03, about 5.6k rows).
One pass, with one client and operations back to back:

1. ``offload``: ``offload_from_spec`` with a MOD split at GOE's default
   transport parallelism of 2 (fetch size 5000), staging Avro through
   the pure-Python ``sources.avro_io`` path into a month-partitioned
   parquet backend up to the seeded HWM;
2. two HWM ``append`` offloads, one month each;
3. ``validate``: CLI ``agg-validate`` of a Derby view bounded at the
   final HWM against the backend;
4. ``hybrid_query`` x 3 over ``hybrid_view_df``: a full-range aggregate,
   a backend-side key lookup and a frontend-side month range;
5. maintenance of the offloaded target: ``bloom_build``, ``delete``
   (bloom-pruned takedown list), ``merge`` (CDC batch), ``compact``,
   ``zorder``.

The read-only operations (``validate``, each ``hybrid_query``,
``bloom_build``), of about a second each, run ``READ_REPEATS`` times in
a row: their single runs spread most. Every operation's output is checked
outside the timed region.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import statistics

from fixtures import (
    ORDERS_SF,
    bounded_view,
    derby_url,
    ensure_derby,
    jdbc_scalar,
    lifecycle_inputs,
    shutdown_derby,
    source_file,
)
from spans import tail_percentile

OWNER, TABLE = "bench", "orders"
READ_REPEATS = 2


class CheckFailed(AssertionError):
    pass


def _check(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def _data_files(root: str, suffix: str = ".parquet") -> dict[str, int]:
    """Sizes of the data files under a table directory, by relative
    path; hidden and underscore files and dot-directories excluded."""
    out = {}
    for d, _dirs, names in os.walk(root):
        if any(x.startswith(".") for x in os.path.relpath(d, root).split(os.sep) if x != "."):
            continue
        for n in names:
            if n.endswith(suffix) and not n.startswith((".", "_")):
                p = os.path.join(d, n)
                out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


def _spec(url: str, base: str, hwm: str) -> dict:
    return {
        "table": TABLE,
        "owner": OWNER,
        "source_jdbc_url": url,
        "source_jdbc_table": "ORDERS",
        "source_parallelism": 2,
        "source_split_column": "o_orderkey",
        "target_dir": os.path.join(base, "final"),
        "staging_dir": os.path.join(base, "staging"),
        "metadata_dir": os.path.join(base, "md"),
        "partition_column": "o_orderdate",
        "granularity": "M",
        "hwm": hwm,
        "staging_format": "avro",
    }


def _multiset(spark, path: str):
    """Order-insensitive (count, hash-sum) of every row of a table."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    cols = sorted(df.columns)
    r = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).first()
    return (r["n"], str(r["h"]))


class Lifecycle:
    name = "offload_lifecycle"

    def __init__(self, spark, tracer, seed: int, work_dir: str):
        self.spark = spark
        self.tr = tracer
        self.seed = seed
        self.work = work_dir
        self.url = derby_url()
        self.counts: dict[str, object] = {}
        self.failures: list[str] = []
        self.attempted = 0

    # -- set-up ---------------------------------------------------------

    def prepare(self) -> None:
        """Fixture check, frontend check and a clean work directory —
        the repeatable part of set-up."""
        self.meta = ensure_derby(self.spark)
        n = jdbc_scalar(self.spark, self.url, "SELECT COUNT(*) FROM ORDERS")
        _check(int(n) == self.meta["rows"], "derby row count")
        self.inputs = lifecycle_inputs(self.seed, self.meta)
        self.view = bounded_view(self.spark, self.inputs["hwms"][-1])
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)

    def warm_up(self) -> None:
        """An untimed offload of one month into a throwaway target, then
        one run of each read-only operation on it: JIT, Python workers,
        the Avro path and the JDBC and hybrid view paths warm up outside
        the pass. The first offload in a process takes about five times
        as long as the next; a read-only operation's first run was a
        fifth to a third slower than its next ones."""
        from goe_spark.plans.offload import offload_from_spec

        base = os.path.join(self.work, "warm")
        offload_from_spec(self.spark, _spec(self.url, base, "1995-01"))
        for fn in self._read_ops(base, timed=False).values():
            fn()
        shutil.rmtree(base)

    # -- the pass -------------------------------------------------------

    def _op(self, kind: str, fn, check=None, repeats: int = 1, slot=None):
        """Run one timed operation ``repeats`` times in a row (the runner
        takes the median of a ``slot``'s runs), then check its last
        output untimed. A raise or a failed check counts as failed; the
        pass goes on."""
        self.attempted += 1
        try:
            for _ in range(repeats):
                with self.tr.span(kind) as rec:
                    if slot is not None:
                        rec["slot"] = slot
                    out = fn()
            if check is not None:
                with self.tr.group(f"check:{kind}"):
                    check(out)
            return out
        except Exception as e:  # noqa: BLE001 - counted, reported
            self.failures.append(f"{kind}: {type(e).__name__}: {e}"[:300])
            return None

    def _read_ops(self, base: str, timed: bool) -> dict:
        """agg-validate of the bounded frontend view and the three
        hybrid-view queries against the target under ``base``, by slot."""
        from pyspark.sql import functions as F

        from goe_spark.cli import main as cli_main
        from goe_spark.plans.hybrid_view import hybrid_view_df
        from goe_spark.plans.metadata import MetadataStore

        spark, inp = self.spark, self.inputs
        target = os.path.join(base, "final")
        timer = self.tr.timer if timed else (lambda _name: contextlib.nullcontext())

        def validate():
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                rc = cli_main(
                    [
                        "agg-validate",
                        "--frontend-jdbc-url", self.url,
                        "--frontend-table", self.view,
                        "--backend-path", target,
                        "--columns", "o_orderkey,o_totalprice,o_custkey",
                    ]
                )
            return rc, json.loads(buf.getvalue().strip().splitlines()[-1])

        md = MetadataStore(os.path.join(base, "md")).get(OWNER, TABLE)

        def hybrid(q):
            with timer("plans.hybrid_view.build_s"):
                src = spark.read.jdbc(self.url, "ORDERS")
                src = src.toDF(*[x.lower() for x in src.columns])
                hv = hybrid_view_df(spark, md, target, src)
            with timer("plans.hybrid_view.exec_s"):
                return q(hv).collect()

        def full(hv):
            return hv.agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("o_orderkey").alias("k"),
                F.sum("o_totalprice").alias("s"),
            )

        def lookup(hv):
            return hv.where(F.col("o_orderkey") == inp["lookup_key"])

        def month_range(hv):
            lo = F.to_timestamp(F.lit(f"{inp['range_month']}-01"))
            return hv.where(
                (F.col("o_orderdate") >= lo)
                & (F.col("o_orderdate") < F.add_months(lo, 1).cast("timestamp"))
            ).agg(F.count(F.lit(1)).alias("n"))

        return {
            "validate": validate,
            "hybrid_query:full": lambda: hybrid(full),
            "hybrid_query:lookup": lambda: hybrid(lookup),
            "hybrid_query:range": lambda: hybrid(month_range),
        }

    def run_pass(self) -> None:
        from pyspark.sql import functions as F

        from goe_spark.plans.bloom_skip import (
            build_bloom_manifest_partitioned,
            prune_partitioned_bloom_in,
        )
        from goe_spark.plans.compaction import compact_partitioned_table
        from goe_spark.plans.history import ExecutionHistoryStore
        from goe_spark.plans.merge_update import merge_rows
        from goe_spark.plans.offload import (
            SYNTHETIC_COL,
            PartitionSpec,
            offload_from_spec,
        )
        from goe_spark.plans.targeted_delete import delete_rows
        from goe_spark.plans.zorder import zorder_partitioned_table

        spark, tr, inp = self.spark, self.tr, self.inputs
        exp = inp["expected"]
        base = os.path.join(self.work, "run")
        target = os.path.join(base, "final")
        staging = os.path.join(base, "staging")
        shutil.rmtree(base, ignore_errors=True)
        c = self.counts
        c.update(staging_bytes=0, final_bytes=0, rows_moved=0)

        # 1-2. initial offload and two HWM appends
        for i, hwm in enumerate(inp["hwms"]):
            want = exp["initial_rows"] if i == 0 else exp["append_rows"][i - 1]
            before = sum(_data_files(target).values()) if i else 0

            def check(res, want=want, before=before):
                _check(
                    res["rows_staged"] == res["rows_final"] == want,
                    f"offload {hwm}: staged {res['rows_staged']} "
                    f"final {res['rows_final']} want {want}",
                )
                c["staging_bytes"] += sum(_data_files(staging, ".avro").values())
                c["final_bytes"] += sum(_data_files(target).values()) - before
                c["rows_moved"] += want

            self._op(
                "offload" if i == 0 else "append",
                lambda hwm=hwm: offload_from_spec(spark, _spec(self.url, base, hwm)),
                check,
            )

        # 3-4. agg-validate and the hybrid-view queries
        read_ops = self._read_ops(base, timed=True)
        total = exp["total_rows"]
        k, m, n = inp["lookup_key"], inp["range_month"], exp["range_rows"]
        checks = {
            "validate": lambda out: _check(
                out[0] == 0 and out[1]["match"] is True, f"agg-validate {out}"
            ),
            "hybrid_query:full": lambda r: _check(
                r[0]["n"] == r[0]["k"] == total, f"hybrid full {r}"
            ),
            "hybrid_query:lookup": lambda r: _check(
                len(r) == 1 and r[0]["o_orderkey"] == k, f"lookup {k}: {r}"
            ),
            "hybrid_query:range": lambda r: _check(
                r[0]["n"] == n, f"range {m}: {r} want {n}"
            ),
        }
        for slot, fn in read_ops.items():
            self._op(
                slot.split(":")[0], fn, checks[slot], repeats=READ_REPEATS, slot=slot
            )

        # 5. maintenance of the offloaded target
        n_parts = len([d for d in os.listdir(target) if d.startswith(f"{SYNTHETIC_COL}=")])
        self._op(
            "bloom_build",
            lambda: build_bloom_manifest_partitioned(spark, target, ["o_orderkey"]),
            lambda n: _check(n == n_parts, f"bloom partitions {n} != {n_parts}"),
            repeats=READ_REPEATS,
            slot="bloom_build",
        )

        table_rows = exp["initial_rows"] + sum(exp["append_rows"])
        takedown = inp["takedown"]
        files, total_files = prune_partitioned_bloom_in(target, "o_orderkey", takedown)
        c["bloom_files_read"] = len(files)
        c["bloom_files_total"] = total_files
        c["bytes_replaced"] = 0
        c["bytes_changed"] = 0

        def replaced(before: dict, after: dict) -> int:
            return sum(s for f, s in before.items() if f not in after)

        def row_bytes() -> float:
            files_now = _data_files(target)
            return sum(files_now.values()) / max(1, table_rows)

        snap = _data_files(target)
        rb = row_bytes()

        def check_delete(rep):
            after = _data_files(target)
            c["bytes_replaced"] += replaced(snap, after)
            c["bytes_changed"] += rep.rows_deleted * rb
            c["delete.partitions_affected"] = rep.partitions_affected
            _check(rep.rows_deleted == len(takedown), f"deleted {rep.rows_deleted}")
            left = (
                spark.read.parquet(target)
                .where(F.col("o_orderkey").isin(takedown))
                .count()
            )
            _check(left == 0, f"{left} takedown keys still present")

        self._op(
            "delete",
            lambda: delete_rows(
                spark, target, "o_orderkey", takedown,
                partition_col=SYNTHETIC_COL, use_bloom=True,
            ),
            check_delete,
        )
        table_rows -= len(takedown)

        new_price = {int(k): p for k, p in inp["cdc_batch"]}
        with tr.group("prepare:merge"):
            cur = (
                spark.read.parquet(target)
                .where(F.col("o_orderkey").isin(list(new_price)))
                .drop(SYNTHETIC_COL)
            )
            schema = cur.schema
            rows = [
                r.asDict() | {"o_totalprice": new_price[r["o_orderkey"]], "o_orderpriority": "1-URGENT"}
                for r in cur.collect()
            ]
            updates = spark.createDataFrame(
                [[r[f.name] for f in schema.fields] for r in rows], schema
            )
        snap = _data_files(target)
        rb = row_bytes()

        def check_merge(rep):
            after = _data_files(target)
            c["bytes_replaced"] += replaced(snap, after)
            c["bytes_changed"] += (rep.rows_updated + rep.rows_inserted) * rb
            c["merge.partitions_affected"] = rep.partitions_affected
            _check(rep.rows_updated == len(new_price), f"merged {rep.rows_updated}")
            got = {
                r["o_orderkey"]: (r["o_totalprice"], r["o_orderpriority"])
                for r in spark.read.parquet(target)
                .where(F.col("o_orderkey").isin(list(new_price)))
                .collect()
            }
            bad = [k for k, p in new_price.items() if got.get(k) != (p, "1-URGENT")]
            _check(not bad, f"merge lost {len(bad)} updates")

        self._op(
            "merge",
            lambda: merge_rows(
                spark, target, "o_orderkey", updates,
                PartitionSpec("o_orderdate", "date", "M"),
            ),
            check_merge,
        )

        with tr.group("check:multiset"):
            ms = _multiset(spark, target)

        def unchanged(what):
            def chk(rep):
                got = _multiset(spark, target)
                _check(got == ms, f"{what} changed the rows: {got} != {ms}")
                c[f"{what}.report"] = rep
            return chk

        self._op(
            "compact",
            lambda: compact_partitioned_table(
                spark, target, partition_col=SYNTHETIC_COL, max_files_per_partition=1
            ),
            unchanged("compact"),
        )
        self._op(
            "zorder",
            lambda: zorder_partitioned_table(
                spark, target, ["o_custkey", "o_totalprice"], partition_col=SYNTHETIC_COL
            ),
            unchanged("zorder"),
        )

        c["source_bytes"] = c["rows_moved"] * (
            os.path.getsize(source_file(ORDERS_SF, "orders")) / self.meta["rows"]
        )
        steps: dict[str, float] = {}
        for rec in ExecutionHistoryStore(os.path.join(base, "md")).list_executions():
            for s in rec.steps:
                steps[s["name"]] = steps.get(s["name"], 0.0) + s["seconds"]
        self.step_seconds = steps

    def close(self) -> None:
        shutdown_derby(self.spark)

    # -- metrics --------------------------------------------------------

    def detail(self) -> dict:
        """The workload's own end-to-end figures, by name and unit."""
        by = _by_kind(self.tr.spans)
        c = self.counts
        # one figure per hybrid query: its median over its runs
        hq_runs: dict[str, list[float]] = {}
        for sp in self.tr.spans:
            if sp["kind"] == "hybrid_query":
                hq_runs.setdefault(sp["slot"], []).append(sp["wall_s"])
        hq = [statistics.median(v) for v in hq_runs.values()]
        p, tail = tail_percentile(hq)
        out = {
            "offload_rows_per_s": (_ratio(self._initial_rows(), _one(by, "offload")), "rows/s"),
            "append_s_p50": (_med(by.get("append")), "s"),
            "validate_s": (_one(by, "validate"), "s"),
            "hybrid_query_s_p50": (_med(hq), "s"),
            "hybrid_query_s_tail": (tail, "s", {"percentile": p, "samples": len(hq)}),
            "bytes_written_per_source_byte": (
                _ratio(c.get("staging_bytes", 0) + c.get("final_bytes", 0), c.get("source_bytes")),
                "ratio",
            ),
            "bloom_build_s": (_one(by, "bloom_build"), "s"),
            "delete_s": (_one(by, "delete"), "s"),
            "merge_s": (_one(by, "merge"), "s"),
            "compact_s": (_one(by, "compact"), "s"),
            "zorder_s": (_one(by, "zorder"), "s"),
            "bytes_rewritten_per_changed_byte": (
                _ratio(c.get("bytes_replaced", 0), c.get("bytes_changed")),
                "ratio",
            ),
        }
        return out

    def _initial_rows(self) -> int:
        return self.inputs["expected"]["initial_rows"]

    def layers(self) -> dict[str, float]:
        """Per-layer metrics owned by this workload's modules."""
        st, c, t = self.step_seconds, self.counts, self.tr.timers
        comp = c.get("compact.report")
        zo = c.get("zorder.report")
        by = _by_kind(self.tr.spans)
        return {
            "plans.offload.STAGING_TRANSPORT_s": st.get("STAGING_TRANSPORT", 0.0),
            "plans.offload.VALIDATE_STAGED_DATA_s": st.get("VALIDATE_STAGED_DATA", 0.0),
            "plans.offload.FINAL_LOAD_s": st.get("FINAL_LOAD", 0.0),
            "plans.offload.VERIFY_EXPORTED_DATA_s": st.get("VERIFY_EXPORTED_DATA", 0.0),
            "plans.offload.planning_s": sum(
                st.get(k, 0.0) for k in ("ANALYZE_DATA_TYPES", "CREATE_TABLE", "FIND_OFFLOAD_DATA")
            ),
            "plans.offload.save_metadata_s": st.get("SAVE_METADATA", 0.0),
            "sources.staging_bytes": c.get("staging_bytes", 0),
            "sinks.final_bytes": c.get("final_bytes", 0),
            "sinks.final_files": len(_data_files(os.path.join(self.work, "run", "final"))),
            "plans.hybrid_view.build_s": t.get("plans.hybrid_view.build_s", 0.0),
            "plans.hybrid_view.exec_s": t.get("plans.hybrid_view.exec_s", 0.0),
            "plans.bloom_skip.build_s": _one(by, "bloom_build") or 0.0,
            "plans.bloom_skip.files_read_ratio": _ratio(
                c.get("bloom_files_read", 0), c.get("bloom_files_total")
            ) or 0.0,
            "plans.targeted_delete.partitions_affected": c.get("delete.partitions_affected", 0),
            "plans.merge_update.partitions_affected": c.get("merge.partitions_affected", 0),
            "plans.compaction.files_before": comp.files_before if comp else 0,
            "plans.compaction.files_after": comp.files_after if comp else 0,
            "plans.compaction.s": _one(by, "compact") or 0.0,
            "plans.zorder.partitions_rewritten": zo.partitions_rewritten if zo else 0,
            "plans.zorder.files_after": zo.files_after if zo else 0,
            "maint.bytes_rewritten": c.get("bytes_replaced", 0),
        }


def _by_kind(spans: list[dict]) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for s in spans:
        out.setdefault(s["kind"], []).append(s["wall_s"])
    return out


def _one(by: dict, kind: str) -> float | None:
    v = by.get(kind)
    return statistics.median(v) if v else None


def _med(v) -> float | None:
    return statistics.median(v) if v else None


def _ratio(a, b) -> float | None:
    return a / b if b else None
