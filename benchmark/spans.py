"""Per-operation tracing from outside the program.

Every benchmark operation runs in its own Spark job group. After the
operation returns, the tracer reads the jobs of that group and their
stages from Spark's status store, which is populated with the UI
disabled:

    statusTracker().getJobIdsForGroup(tag)
      -> getJobInfo(job).stageIds()
      -> sc.statusStore().lastStageAttempt(stage)

and turns them into the ``spark.*`` layer counters. Spans are kept in
memory and summed when the run ends. With tracing off the same group
tags are set (so the two runs schedule identical work) but the status
store is never read.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager

GROUP_PREFIX = "bench:"

SPARK_COUNTERS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.driver_s",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
    "spark.input_bytes",
    "spark.output_bytes",
    "spark.result_bytes",
)


def _opt_ms(opt) -> float | None:
    """A Scala ``Option[java.util.Date]`` as epoch seconds."""
    if opt is None or opt.isEmpty():
        return None
    return opt.get().getTime() / 1000.0


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    """Job-group spans around benchmark operations.

    ``span(kind)`` times one operation of the timed pass; ``group(name)``
    tags untimed work (set-up, warm-up, output checks), which is left
    out of the layer sums.
    """

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self._seq = 0
        self.spans: list[dict] = []
        self.tracer_s = 0.0  # time spent reading the status store
        self.timers: dict[str, float] = defaultdict(float)
        # untimed time per group kind (setup, warmup, check, ...)
        self.group_s: dict[str, float] = defaultdict(float)

    @contextmanager
    def group(self, name: str):
        """Run a block in a fresh benchmark job group; no timing."""
        self._seq += 1
        tag = f"{GROUP_PREFIX}{self._seq}:{name}"
        self.sc.setJobGroup(tag, name)
        t0 = time.perf_counter()
        try:
            yield tag
        finally:
            self.group_s[name.split(":")[0]] += time.perf_counter() - t0
            self.sc.setJobGroup(f"{GROUP_PREFIX}idle", "between operations")

    @contextmanager
    def span(self, kind: str):
        """Time one operation; in traced mode, collect its jobs."""
        with self.group(kind) as tag:
            rec = {"kind": kind}
            t0 = time.perf_counter()
            wall0 = time.time()
            try:
                yield rec
            finally:
                rec["wall_s"] = time.perf_counter() - t0
                rec["start"] = wall0
                self.spans.append(rec)
        if self.enabled:
            t1 = time.perf_counter()
            rec.update(self._collect(tag, rec["wall_s"]))
            self.tracer_s += time.perf_counter() - t1

    @contextmanager
    def timer(self, name: str):
        """Accumulate the wall time of a call into a module's public
        function (a per-layer ``<module>..._s`` metric)."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.timers[name] += time.perf_counter() - t0

    # -- status store ---------------------------------------------------

    def _drain_listener(self) -> None:
        # The status store is fed asynchronously by the listener bus;
        # wait until every event of the finished jobs is applied.
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _collect(self, tag: str, wall_s: float) -> dict:
        self._drain_listener()
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out = dict.fromkeys(SPARK_COUNTERS, 0.0)
        intervals = []
        job_ids = list(tracker.getJobIdsForGroup(tag))
        out["spark.jobs"] = len(job_ids)
        for j in job_ids:
            jd = store.job(j)
            a, b = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
            if a is not None and b is not None:
                intervals.append((a, b))
            info = tracker.getJobInfo(j)
            for sid in (info.stageIds if info is not None else []):
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - skipped stage, no attempt
                    continue
                if st.numTasks() == 0 or str(st.status()) == "SKIPPED":
                    continue
                out["spark.stages"] += 1
                out["spark.tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                out["spark.executor_run_s"] += st.executorRunTime() / 1e3
                out["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
                out["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spark.input_bytes"] += st.inputBytes()
                out["spark.output_bytes"] += st.outputBytes()
                out["spark.result_bytes"] += st.resultSize()
        out["spark.driver_s"] = max(0.0, wall_s - _union_length(intervals))
        return out

    def untagged_jobs(self) -> int:
        """Jobs that ran outside every benchmark group: pool threads
        that did not inherit the group, or code that reset it."""
        self._drain_listener()
        store = self.sc._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        n = 0
        for i in range(jobs.size()):
            g = jobs.apply(i).jobGroup()
            name = None if g.isEmpty() else g.get()
            if not name or not name.startswith(GROUP_PREFIX) or name.endswith(
                ":idle"
            ):
                n += 1
        return n

    # -- summaries ------------------------------------------------------

    def spark_totals(self) -> dict[str, float]:
        tot = dict.fromkeys(SPARK_COUNTERS, 0.0)
        for s in self.spans:
            for k in SPARK_COUNTERS:
                tot[k] += s.get(k, 0.0)
        return tot


def tail_percentile(samples: list[float]) -> tuple[float | None, float | None]:
    """The highest percentile with at least ten samples beyond it, as
    (percentile, value); (None, None) with fewer than eleven samples."""
    n = len(samples)
    if n < 11:
        return None, None
    k = n - 11  # 0-based index of the value with ten samples above it
    return round(100.0 * (k + 1) / n, 1), sorted(samples)[k]
