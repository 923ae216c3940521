"""Workload ``query_mix``: registry queries over the sf0.01 tables as
shipped (one parquet file, one row group per table).

Each query runs several times in a row. The first run is untimed: it
warms the query up and checks its output — the order-insensitive hash
that ``tools/check_oracle.py`` renders from the pandas fetch must equal
the value recorded in ``query_hashes.json`` (the DuckDB oracle agrees
with it). The runs after it are timed and materialized to the noop
sink: two for a query of under a second, whose single runs spread
most, one for the others. The runner takes each query's median.
Persisted blocks are cleared between runs, untimed, as ``bench.py``
does.

The queries take no parameters, so the seed changes nothing here: the
inputs are the shipped tables, and the order is fixed because a seeded
order moved each query's time with its position (the first queries of
a run pay the rest of the JVM's warm-up).
"""

from __future__ import annotations

import json
import os
import statistics
import time

from fixtures import HERE, QUERY_SF, check_sources, testdata
from goe_spark.catalog import TABLES
from spans import tail_percentile

QUERIES = [
    # scan, join and validation queries
    "q1_pricing_summary",
    "q3_shipping_priority",
    "agg_validate_lineitem",
    "predicate_offload_slice",
    # mechanism-heavy queries
    "shingle_containment_pairs",  # pin_cpu_stage
    "lsh_param_sweep",  # memo_exprs, localCheckpoint
    "quality_calibration_bins",  # spread
    "ann_ivf_topk",  # module IVF cache
]

# timed runs per query: two for the sub-second ones
REPEATS = dict.fromkeys(QUERIES, 1) | dict.fromkeys(
    [
        "q1_pricing_summary",
        "q3_shipping_priority",
        "agg_validate_lineitem",
        "predicate_offload_slice",
        "quality_calibration_bins",
    ],
    2,
)

HASHES_FILE = os.path.join(HERE, "query_hashes.json")


def sf_dir() -> str:
    return os.path.join(testdata(), QUERY_SF)


def fingerprint(df) -> tuple[int, str, str]:
    from tools.check_oracle import frame_fingerprint

    n, cols, h, _rows = frame_fingerprint(df.toPandas())
    return n, cols, h


def persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


class QueryMix:
    name = "query_mix"

    def __init__(self, spark, tracer, seed: int, work_dir: str):
        self.spark = spark
        self.tr = tracer
        self.seed = seed
        self.failures: list[str] = []
        self.attempted = 0
        self.counts: dict[str, float] = {"persisted_rdds": 0}
        with open(HASHES_FILE) as fh:
            self.expected = json.load(fh)

    def prepare(self) -> None:
        """Fixture check and the catalog's table handles."""
        from goe_spark.catalog import load_table

        check_sources([(QUERY_SF, t) for t in TABLES])
        self.inputs = {"order": QUERIES}
        for t in TABLES:
            load_table(self.spark, sf_dir(), t)

    def warm_up(self) -> None:
        """Nothing beyond the pass's own untimed first run of each
        query, which also checks its output."""

    def _clear(self) -> None:
        from bench import clear_persisted

        clear_persisted(self.spark)

    def run_pass(self) -> None:
        from goe_spark.catalog import load_table
        from goe_spark.queries import queries_dict

        spark, tr = self.spark, self.tr
        qs = queries_dict()
        sf = sf_dir()
        for name in QUERIES:
            self.attempted += 1
            try:
                # The checking run goes right before the timed one:
                # Spark's codegen cache holds only the latest queries.
                with tr.group(f"check:{name}"):
                    got = list(fingerprint(qs[name](spark, sf)))
                    self._clear()
                want = self.expected[name]
                if got != want:
                    raise AssertionError(f"hash {got} != recorded {want}")
                for _ in range(REPEATS[name]):
                    with tr.span("query") as rec:
                        rec["query"] = rec["slot"] = name
                        with tr.timer("queries.build_s"):
                            df = qs[name](spark, sf)
                        with tr.timer("queries.plan_s"):
                            df._jdf.queryExecution().executedPlan()
                        with tr.timer("queries.exec_s"):
                            df.write.mode("overwrite").format("noop").save()
                    rec["ok"] = True
                    self.counts["persisted_rdds"] += persisted_rdds(spark)
                    self._clear()
            except Exception as e:  # noqa: BLE001 - counted, reported
                self.failures.append(f"{name}: {type(e).__name__}: {e}"[:300])
                self._clear()
        # the catalog's cache-hit path over every table
        t0 = time.perf_counter()
        for t in TABLES:
            load_table(spark, sf, t)
        self.counts["load_table_s"] = time.perf_counter() - t0

    def close(self) -> None:
        pass

    def detail(self) -> dict:
        ok = [s for s in self.tr.spans if s.get("ok")]
        by_query: dict[str, list[float]] = {}
        for s in ok:
            by_query.setdefault(s["query"], []).append(s["wall_s"])
        # one figure per query: its median over its timed runs
        qs = [statistics.median(v) for v in by_query.values()]
        p, tail = tail_percentile(qs)
        return {
            "query_s_p50": (statistics.median(qs) if qs else None, "s"),
            "query_s_tail": (tail, "s", {"percentile": p, "samples": len(qs)}),
            "query_mix_s": (sum(qs) if qs else None, "s"),
        }

    def layers(self) -> dict[str, float]:
        t = self.tr.timers
        return {
            "queries.build_s": t.get("queries.build_s", 0.0),
            "queries.plan_s": t.get("queries.plan_s", 0.0),
            "queries.exec_s": t.get("queries.exec_s", 0.0),
            "queries.persisted_rdds": self.counts["persisted_rdds"],
            "catalog.load_table_s": self.counts.get("load_table_s", 0.0),
        }


def record_hashes(spark) -> dict:
    """Compute and store the expected hashes (maintenance helper)."""
    from goe_spark.queries import queries_dict

    qs = queries_dict()
    out = {n: list(fingerprint(qs[n](spark, sf_dir()))) for n in QUERIES}
    with open(HASHES_FILE, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return out
