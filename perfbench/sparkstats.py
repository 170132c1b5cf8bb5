"""Counters read from Spark itself, with the web UI off: per-job-group
stage metrics from the driver's status store, Catalyst phase times and
physical-plan shape from a DataFrame's query execution, and block-manager
storage of cached RDDs. Everything goes over py4j; nothing is added to
the session's configuration."""

from __future__ import annotations

import contextlib
import re
import time

from helpers import median

EXEC_FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "cpu_s",
    "run_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
)

_RAN = ("COMPLETE", "FAILED")  # SKIPPED / PENDING stages did no work


class SparkCounters:
    """Job-group-scoped execution totals for one SparkContext. With a
    ``tracer``, every window's reads are spans named ``trace.window``,
    so their cost is counted as tracing, not as the layer around them."""

    def __init__(self, sc, tracer=None):
        self.sc = sc
        self.tracer = tracer
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()

    def job_ids(self, group) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup(group))

    def drain(self) -> None:
        """Wait until the status store has seen every finished job."""
        self._jsc.listenerBus().waitUntilEmpty()

    def totals(self, job_ids, since_ms: float) -> dict:
        """Stage totals of ``job_ids``, counting each stage once and only
        if it was submitted at or after ``since_ms`` (epoch ms): a later
        job lists a reused shuffle's stage again, but did not run it."""
        from py4j.protocol import Py4JJavaError

        out = dict.fromkeys(EXEC_FIELDS, 0)
        seen: set[int] = set()
        for jid in sorted(job_ids):
            out["jobs"] += 1
            sids = self._store.job(jid).stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Py4JJavaError:
                    # Evicted from the store: an old stage a later job
                    # lists again for a reused shuffle; it ran before.
                    continue
                submitted = sd.submissionTime()
                if (
                    sd.status().toString() not in _RAN
                    or not submitted.isDefined()
                    or submitted.get().getTime() < since_ms
                ):
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                out["cpu_s"] += sd.executorCpuTime() / 1e9
                out["run_s"] += sd.executorRunTime() / 1e3
                out["gc_s"] += sd.jvmGcTime() / 1e3
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["input_bytes"] += sd.inputBytes()
        return out

    def window(self) -> "JobWindow":
        return JobWindow(self)

    def storage(self) -> dict:
        infos = self._jsc.getRDDStorageInfo()
        return {
            "cached_rdds": len(infos),
            "cached_bytes": sum(r.memSize() + r.diskSize() for r in infos),
        }


class JobWindow:
    """Jobs the calling thread's job group launched between enter and
    exit, and their stage totals (``self.totals`` after exit). Windows
    may nest; an outer window counts its inner windows' jobs too."""

    def __init__(self, counters: SparkCounters):
        self.counters = counters
        self.totals: dict = {}

    def _span(self):
        tracer = self.counters.tracer
        return tracer.span("trace.window") if tracer else contextlib.nullcontext()

    def __enter__(self) -> "JobWindow":
        with self._span():
            self.group = self.counters.sc.getLocalProperty("spark.jobGroup.id")
            self.counters.drain()
            self._before = self.counters.job_ids(self.group)
            self._since_ms = time.time() * 1000 - 1
        return self

    def __exit__(self, *exc) -> None:
        with self._span():
            self.counters.drain()
            new = self.counters.job_ids(self.group) - self._before
            self.totals = self.counters.totals(new, self._since_ms)


_NODE = re.compile(r"^[\s:+\-*|]*(?:\(\d+\)\s*)?(\w+)")


def plan_shape(df) -> dict:
    """Optimise and plan the DataFrame's logical plan and report the
    Catalyst phase times with the physical plan's exchange and sort
    counts.

    A write plans its own copy of the same logical plan again, inside
    its execution, so this is a re-plan made beside the program's:
    callers run it in a ``trace.`` span, whose time no layer counts
    (see ``spans``). Analysis is left out
    of ``phases_s``: it ran when the DataFrame was built.
    """
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    phases = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() != "analysis":
            phases[kv._1()] = kv._2().durationMs() / 1e3
    parsed = [
        (m.group(1), line) for line in plan.splitlines() if (m := _NODE.match(line))
    ]
    nodes = [name for name, _ in parsed]
    return {
        "phases_s": sum(phases.values()),
        "phases": phases,
        "exchanges": nodes.count("Exchange"),
        "range_exchanges": sum(
            1 for name, line in parsed
            if name == "Exchange" and "rangepartitioning" in line
        ),
        "sorts": nodes.count("Sort"),
    }


def floor_s(spark, repeats: int = 5) -> float:
    """Median wall of a no-op write of a one-row range: the fixed cost
    every Spark action pays in this session."""
    walls = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        spark.range(1).write.format("noop").mode("overwrite").save()
        walls.append(time.perf_counter() - t0)
    return median(walls)
