"""goe-spark benchmark: the offload product path and the query mix.

    python3 benchmark/run.py --workload offload_lifecycle --seed 1 \
        --seconds 15 --trace 0

Run from the root of a checkout. Workloads (see BENCHMARK.json for why
each was chosen and which layer metric should move which end-to-end
metric):

- ``offload_lifecycle``: Derby frontend -> offload -> 2 HWM appends ->
  agg-validate -> hybrid-view queries -> bloom / delete / merge /
  compact / z-order on the offloaded target (``lifecycle.py``);
- ``query_mix``: 8 registry queries, warm, noop sink (``query_mix.py``).

Each run is a closed loop with one client: set-up (timed as
``setup_s``), one untimed warm-up, then whole passes of the workload's
operations, back to back, until ``--seconds`` is used up (at least one
pass). The short read-only operations run twice in a row; each
operation slot's figure is the median of its runs. Every output is
checked outside the timed region; an operation that raises or fails its
check counts in ``failed``.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the
same work with every operation's Spark jobs read back from the status
store and prints the per-layer metrics. The last stdout line is the
result object; the lines before it carry the pinned environment, the
fixtures, the CPU calibration probe and the workload's own figures.

The runner pins its environment before the JVM starts:
``SPARK_GRAFT_CPUS`` = the usable cores, ANSI on, UI and console
progress off, ``SPARK_LOCAL_DIRS`` and every temporary file under
``benchmark/.data/tmp`` (removed at exit), the checkout on
``PYTHONPATH`` so Python workers import ``goe_spark`` from any working
directory, and the JVM's JIT at C1 only (see ``spark_conf``). Source
data: ``$GOE_BENCH_TESTDATA``, by default the parent of the program's
own data directory, read only.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("offload_lifecycle", "query_mix")
PREPARE_REPEATS = 3


def pin_environment(tmp: str) -> dict:
    cpus = len(os.sched_getaffinity(0))
    local = os.path.join(tmp, "local")
    os.makedirs(local)
    pypath = [ROOT, HERE] + [
        p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p
    ]
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_ANSI": "1",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(pypath),
    }
    os.environ.update(env)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)
    return env


def spark_conf(tmp: str) -> dict:
    # C1 only: in a one-minute run the C2 compiler threads took about
    # 80 s of CPU (-XX:+CITime), competing with the workload for the
    # cores, so each run's speed hung on how far compilation had got.
    java_opts = (
        f"-Djava.io.tmpdir={tmp} "
        f"-Dderby.stream.error.file={os.path.join(tmp, 'derby.log')} "
        "-XX:TieredStopAtLevel=1"
    )
    return {
        "spark.sql.ansi.enabled": "true",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.driver.memory": "2g",
        # keep every job of a run in the status store for the tracer
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def calibration(spark) -> dict:
    """``bench.py``'s CPU calibration probe at 1/20 (Python) and 1/10000
    (JVM) of its size:
    context for reading a run, never used to normalize a metric."""
    from bench import CALIB_PY_ITERS, CALIB_SPARK_ROWS, _calib_python, _calib_spark

    return {
        "python_s": round(_calib_python(CALIB_PY_ITERS // 20), 4),
        "spark_s": round(_calib_spark(spark, CALIB_SPARK_ROWS // 10000), 4),
    }


def _metric(value, unit):
    return {"value": value, "unit": unit}


def run(args) -> dict:
    from fixtures import DATA_DIR, summary

    os.makedirs(os.path.join(DATA_DIR, "tmp"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=os.path.join(DATA_DIR, "tmp"))
    spark = None
    try:
        env = pin_environment(tmp)
        from goe_spark.session import get_spark
        from spans import Tracer

        t0 = time.perf_counter()
        spark = get_spark("goe-bench", extra_conf=spark_conf(tmp))
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0

        tracer = Tracer(spark, enabled=bool(args.trace))
        if args.workload == "offload_lifecycle":
            from lifecycle import Lifecycle as W
        else:
            from query_mix import QueryMix as W
        wl = W(spark, tracer, args.seed, os.path.join(tmp, "work"))

        prep = []
        for i in range(PREPARE_REPEATS):
            t1 = time.perf_counter()
            with tracer.group(f"setup:{i}"):
                wl.prepare()
            prep.append(time.perf_counter() - t1)
        t1 = time.perf_counter()
        with tracer.group("warmup"):
            wl.warm_up()
        warm_s = time.perf_counter() - t1
        with tracer.group("calibration"):
            calib_pre = calibration(spark)
        setup_s = session_s + statistics.median(prep) + warm_s

        passes = []
        slots: dict[object, list[float]] = {}
        t_meas = time.perf_counter()
        while True:
            t1 = time.perf_counter()
            n_spans = len(tracer.spans)
            wl.run_pass()
            this = tracer.spans[n_spans:]
            passes.append(sum(s["wall_s"] for s in this))
            for key, wall in slot_walls(this):
                slots.setdefault(key, []).append(wall)
            elapsed = time.perf_counter() - t_meas
            if elapsed + (time.perf_counter() - t1) > args.seconds:
                break
        with tracer.group("calibration"):
            calib_post = calibration(spark)
        untagged = tracer.untagged_jobs() if args.trace else None
        wl.close()

        # each slot's median over its runs; none timed: zeros, failed
        ops = [statistics.median(v) for v in slots.values()] or [0.0]
        failed = len(wl.failures)
        detail = {
            k: {"value": v[0], "unit": v[1], **(v[2] if len(v) > 2 else {})}
            for k, v in wl.detail().items()
        }
        detail["failed_ratio"] = {
            "value": failed / max(1, wl.attempted),
            "unit": "ratio",
        }
        context = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "environment": env,
            "spark_conf": spark_conf(tmp),
            "fixtures": summary(),
            "inputs": {k: v for k, v in wl.inputs.items() if not isinstance(v, list) or len(v) <= 16},
            "calibration": {"pre": calib_pre, "post": calib_post},
            "timings": {
                "session_s": session_s,
                "prepare_s": prep,
                "warm_up_s": warm_s,
                "passes_s": passes,
                "groups_s": dict(tracer.group_s),
                "run_s": time.perf_counter() - t0,
            },
            "passes": len(passes),
            "operations": [
                [s.get("query", s["kind"]), round(s["wall_s"], 4)]
                for s in tracer.spans
            ],
            "failures": wl.failures,
        }
        print("context " + json.dumps(context, sort_keys=True, default=str))
        print("detail " + json.dumps(detail, sort_keys=True))

        if args.trace:
            wall = sum(passes)
            tot = tracer.spark_totals()
            cores = int(env["SPARK_GRAFT_CPUS"])
            layers = dict(tot)
            layers["spark.core_util"] = tot["spark.executor_run_s"] / max(
                1e-9, wall * cores
            )
            layers["session.start_s"] = session_s
            layers["trace.overhead"] = (wall + tracer.tracer_s) / max(1e-9, wall)
            layers["trace.untagged_jobs"] = untagged
            units = per_layer_units()
            # a layer this workload does not reach reads 0
            layers.update({k: 0 for k in units if k not in layers})
            layers.update(wl.layers())
            metrics = {k: _metric(layers[k], unit) for k, unit in units.items()}
            ok = not wl.failures and untagged == 0
        else:
            metrics = {
                "setup_s": _metric(setup_s, "s"),
                "pass_s": _metric(sum(ops), "s"),
                "op_s_geomean": _metric(
                    statistics.geometric_mean(ops) if min(ops) > 0 else 0.0, "s"
                ),
            }
            ok = not wl.failures
        return {
            "correct": ok,
            "attempted": wl.attempted,
            "failed": failed,
            "metrics": metrics,
        }
    finally:
        if spark is not None:
            spark.stop()
            stop_jvm()
        shutil.rmtree(tmp, ignore_errors=True)


def slot_walls(spans: list[dict]):
    """(operation slot, wall time) for the spans of one pass. A span
    that names its ``slot`` (the repeated runs of one operation) is
    keyed by it; any other by its kind and its occurrence in the pass,
    so the n-th ``append`` of every pass shares one slot."""
    seen: dict[str, int] = {}
    for s in spans:
        if "slot" in s:
            yield s["slot"], s["wall_s"]
            continue
        seen[s["kind"]] = seen.get(s["kind"], 0) + 1
        yield (s["kind"], seen[s["kind"]]), s["wall_s"]


def stop_jvm() -> None:
    """End the JVM this process launched and wait for it (with its
    Python workers): the gateway exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


def per_layer_units() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return {m["name"]: m["unit"] for m in bench["per_layer"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "goe_spark")):
        print("benchmark: goe_spark not found next to benchmark/", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
