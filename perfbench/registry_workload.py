"""The ``registry`` workload: registry keys built and executed one after
another in one warm SparkSession, the way the oracle gate and bench.py
drive the engine.

``run.py`` starts it in a fresh process (``main``), so the set-up of
its session is one sample of ``setup_s``, as each probe is. One client,
closed loop: the next key is built only after the previous
one has executed. A key's latency is its build
(``queries()[key](spark, sf_dir)``, which includes any Spark jobs the
operator runs eagerly) plus its execution into a ``noop`` sink, which
materialises every column. The seed shuffles the key order of every
pass; no total may depend on it.

The first pass collects every result; once the warm-up timer has
stopped, each result's order-insensitive fingerprint is checked
against the DuckDB oracle's (``oracle_sql``, made by ``prepare.py``).
The first pass pays most of the JIT compilation and the
shared-artifact materialisation of the ``dd_*`` keys, and is reported
as ``warmup_s``. Timed passes follow until the run's seconds are
spent; every pass runs to its end.
"""

from __future__ import annotations

import os
import random
import time

from helpers import RssSampler, checkpoint_bytes, fingerprint, median, percentile
from sparkstats import SparkCounters, floor_s, plan_shape

# Five keys that stand for the light set: the headline keys whose sf0.1
# execute time is below the median, dispatch- and build-bound. Picked
# by survey_keys.py (one per latency quintile, nearest its quintile's
# median build share); README.md has the figures.
LIGHT = (
    "mm_chunk_bytes",
    "ann_batch_topk",
    "ev_bot_detect",
    "mm_phash_bucket_stats",
    "q3_shipping_priority",
)
# The largest executor compute in the headline set: shuffle-heavy, and
# it builds the shared dd_* tables through the tracked_persist memo.
# pipe_curation, the other compute key, runs in task_incremental as the
# training_data_pipeline task.
HEAVY = ("dd_containment_idx",)
KEYS = LIGHT + HEAVY


class RegistryRun:
    def __init__(self, spark, sf_dir: str, seed: int):
        import __spark_entry__ as entry

        self.spark = spark
        self.sc = spark.sparkContext
        self.sf_dir = sf_dir
        self.rng = random.Random(seed)
        self.qs = entry.queries()
        self.attempted = 0
        self.failures: list[str] = []
        self.check_latencies: dict[str, float] = {}

    def order(self) -> list[str]:
        keys = list(KEYS)
        self.rng.shuffle(keys)
        return keys

    def check_pass(self) -> dict:
        """Build, execute and collect every key once; returns the
        results, for ``check`` to compare outside the timed region."""
        frames = {}
        for key in self.order():
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                frames[key] = self.qs[key](self.spark, self.sf_dir).toPandas()
            except Exception as exc:  # a failed key is counted, the run goes on
                self.failures.append(f"{key}: {type(exc).__name__}: {exc}"[:500])
            self.check_latencies[key] = time.perf_counter() - t0
        return frames

    def check(self, frames: dict, ref: dict[str, str]) -> None:
        for key, pdf in frames.items():
            if fingerprint(pdf) != ref[key]:
                self.failures.append(f"{key}: result differs from the oracle")

    def timed_pass(self, latencies: dict[str, list[float]], layers=None) -> float:
        """One pass over every key; appends each key's build + execute
        latency to ``latencies[key]`` and returns the pass wall."""
        t_pass = time.perf_counter()
        for key in self.order():
            self.attempted += 1
            try:
                if layers is None:
                    t0 = time.perf_counter()
                    df = self.qs[key](self.spark, self.sf_dir)
                    df.write.format("noop").mode("overwrite").save()
                    latencies.setdefault(key, []).append(time.perf_counter() - t0)
                else:
                    latencies.setdefault(key, []).append(layers.key(key, self.qs[key]))
            except Exception as exc:
                self.failures.append(f"{key}: {type(exc).__name__}: {exc}"[:500])
        return time.perf_counter() - t_pass

    def passes(self, seconds: float, layers=None) -> tuple[list[float], dict]:
        """Whole passes until ``seconds`` have gone by."""
        walls: list[float] = []
        latencies: dict[str, list[float]] = {}
        t_end = time.perf_counter() + seconds
        while not walls or time.perf_counter() < t_end:
            walls.append(self.timed_pass(latencies, layers))
            if layers is not None:
                layers.end_pass()
        return walls, latencies


class RegistryLayers:
    """The traced counterpart of one key: spans around each layer call,
    job-group-scoped Spark counters at the same boundaries, and a
    per-key layer record."""

    def __init__(self, run: RegistryRun, tracer):
        self.run = run
        self.tracer = tracer
        self.counters = SparkCounters(run.sc, tracer)
        self.records: list[dict] = []
        self.pass_storage: list[dict] = []
        from pypers_spark.sources import registry

        self._undo = tracer.wrap(registry, "load_table", "sources.load_table")

    def key(self, key: str, query) -> float:
        sc, tr = self.run.sc, self.tracer
        rec: dict = {"key": key}
        t0 = time.perf_counter()
        with tr.span("key", key=key):
            sc.setJobGroup(f"perfbench-build-{key}", key)
            with tr.span("operators.build") as span, self.counters.window() as win:
                df = query(self.run.spark, self.run.sf_dir)
            span.update(win.totals)
            rec["build"] = win.totals
            with tr.span("trace.catalyst") as span:
                span.update(plan_shape(df))
            rec["catalyst"] = {k: span[k] for k in ("phases_s", "phases", "exchanges",
                                                    "range_exchanges", "sorts")}
            sc.setJobGroup(f"perfbench-exec-{key}", key)
            with tr.span("exec.write") as span, self.counters.window() as win:
                df.write.format("noop").mode("overwrite").save()
            span.update(win.totals)
            rec["exec"] = win.totals
            sc.setLocalProperty("spark.jobGroup.id", None)
        wall = time.perf_counter() - t0
        self.records.append(rec)
        return wall

    def end_pass(self) -> None:
        st = self.counters.storage()
        st["checkpoint_bytes"] = checkpoint_bytes()
        self.pass_storage.append(st)

    def close(self) -> None:
        self._undo()


def run(ctx, seconds: float, trace: bool) -> dict:
    """Returns the metrics of one invocation and its detail record."""
    spark = ctx.spark
    reg = RegistryRun(spark, ctx.sf_dir, ctx.seed)
    with RssSampler(os.getpid()) as rss:
        t0 = time.perf_counter()
        frames = reg.check_pass()
        warmup_s = time.perf_counter() - t0
        reg.check(frames, ctx.refs["oracle"])
        del frames
        walls, latencies = reg.passes(seconds)
    samples = [x for xs in latencies.values() for x in xs]
    floor = floor_s(spark, repeats=21)
    metrics = {
        "warmup_s": warmup_s,
        "pass_s": median(walls),
        "step_p50_s": percentile(samples, 50),
        "peak_rss_mb": rss.peak_mb,
    }
    detail = {
        "named": {
            "warmup_s": warmup_s,
            "pass_e2e_s": metrics["pass_s"],
            "key_e2e_p50_s": metrics["step_p50_s"],
            # About 18 samples a run leave 1 or 2 beyond p90; a gated
            # percentile needs 10, so this one is reported, not gated.
            "key_e2e_p90_s": percentile(samples, 90),
            "floor_s": floor,
            "peak_rss_mb": rss.peak_mb,
        },
        "keys": list(KEYS),
        "check_latency_by_key_s": reg.check_latencies,
        "pass_walls_s": walls,
        "key_executions": len(samples),
        "latency_by_key_s": latencies,
    }
    if trace:
        detail["traced"] = traced_passes(ctx, reg, seconds, walls[-1])
    return {
        "metrics": metrics,
        "attempted": reg.attempted,
        "failures": reg.failures,
        "detail": detail,
    }


def traced_passes(ctx, reg: RegistryRun, seconds: float, before: float) -> dict:
    """Traced passes for ``seconds``, then one more untraced pass. The
    overhead compares the traced passes with the untraced passes on
    either side of them (``before`` is the last timed one), because
    passes still get faster as the session warms."""
    from spans import Tracer, accounting, layer_metrics, layer_totals

    tracer = Tracer(run_id=f"registry-{ctx.seed}")
    layers = RegistryLayers(reg, tracer)
    try:
        walls, _ = reg.passes(seconds, layers)
    finally:
        layers.close()
    after = reg.timed_pass({})
    ctx.write_spans(tracer.spans)
    out = layer_metrics(tracer.spans, len(walls))
    out["exec.floor_s"] = floor_s(reg.spark, repeats=21)
    for field in ("cached_rdds", "cached_bytes"):
        out[f"functions.{field}"] = median([s[field] for s in layers.pass_storage])
    out["functions.checkpoint_bytes_written"] = layers.pass_storage[-1]["checkpoint_bytes"]
    out["trace.overhead_ratio"] = median(walls) / median([before, after]) - 1
    out.update(accounting(tracer.spans, sum(walls)))
    return {"per_layer": out, "per_key": layers.records, "pass_walls_s": walls,
            "untraced_pass_walls_s": [before, after], "layer_totals": layer_totals(tracer.spans)}


def main(seed: int, trace: int, seconds: float, result_path: str) -> int:
    """One run of the workload in this fresh process; the set-up of its
    session is one sample of ``setup_s``. Writes the result as JSON."""
    import json

    from helpers import start_session, stop_spark
    from run import Context

    ctx = Context("registry", seed, trace)
    spark, setup_s = start_session("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    ctx.spark = spark
    try:
        ctx.refs = ctx.load_refs()
        res = run(ctx, seconds, bool(trace))
    finally:
        stop_spark(spark)
    res["setup_sample_s"] = setup_s
    with open(result_path, "w") as fh:
        json.dump(res, fh)
    return 0


if __name__ == "__main__":
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.exit(main(int(sys.argv[1]), int(sys.argv[2]), float(sys.argv[3]), sys.argv[4]))
