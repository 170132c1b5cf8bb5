"""pypers_spark benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload registry --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. The input tables are the committed
copy under ``perfbench/data``. The first run in a checkout starts
``prepare.py``, which makes the references the output checks compare
against and keeps them under ``perfbench/.cache`` (delete that dir
after changing the oracle SQL, the specs or the tables). Every scratch
file lives under ``perfbench/.work/<pid>`` and is removed on exit; the
full record of the run (environment, per-pass totals, per-key layer
records, spans) is written under ``perfbench/.results``.

The last line of standard output is the result: ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the run also traces
each layer and the metrics are the per-layer ones. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4
SF_DIR = os.path.join(HERE, "data", "sf0.01")
WORKLOADS = ("registry", "task_incremental")

UNITS = {
    "setup_s": "s", "warmup_s": "s", "pass_s": "s", "step_p50_s": "s",
    "peak_rss_mb": "MB",
    "sources.load_table_s": "s", "sources.load_table_calls": "count",
    "operators.build_s": "s", "operators.build_jobs": "count",
    "operators.build_stages": "count", "operators.build_cpu_s": "s",
    "catalyst.phases_s": "s", "catalyst.exchanges": "count",
    "catalyst.range_exchanges": "count", "catalyst.sorts": "count",
    "exec.wall_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.cpu_s": "s", "exec.run_s": "s",
    "exec.cpu_over_run": "ratio", "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.input_bytes": "bytes", "exec.floor_s": "s",
    "functions.cached_rdds": "count", "functions.cached_bytes": "bytes",
    "functions.checkpoint_bytes_written": "bytes",
    "trace.overhead_ratio": "ratio", "trace.self_time_share": "ratio",
    "trace.tracing_share": "ratio", "trace.residual_share": "ratio",
}


class Context:
    """Where a run reads and writes, and what every workload shares.

    The process that makes the first ``Context`` of a run owns its
    scratch dir and removes it; the children it starts (``prepare.py``,
    the registry workload) inherit the dir through the environment."""

    def __init__(self, workload: str, seed: int, trace: int):
        self.workload = workload
        self.seed = seed
        self.trace = trace
        self.root = ROOT
        self.cache_dir = os.path.join(HERE, ".cache")
        self.refs_path = os.path.join(self.cache_dir, "references.json")
        self.results_dir = os.path.join(HERE, ".results")
        inherited = os.environ.get("PERFBENCH_WORK_DIR")
        self.owns_work_dir = inherited is None
        self.work_dir = inherited or os.path.join(HERE, ".work", str(os.getpid()))
        self.sf_dir = SF_DIR
        self.refs: dict = {}
        self.spark = None
        tmp = os.path.join(self.work_dir, "tmp")
        for d in (self.cache_dir, self.results_dir, tmp):
            os.makedirs(d, exist_ok=True)
        os.environ.update(
            {
                "PERFBENCH_WORK_DIR": self.work_dir,
                "SPARK_GRAFT_CPUS": str(CPUS),
                "SPARK_GRAFT_DRIVER_MEM": "2g",
                # Status-store retention: a key's or a task's stages must
                # still be there when its job window is read.
                "SPARK_GRAFT_UI_RETAINED": "1000",
                "SPARK_LOCAL_DIRS": os.path.join(self.work_dir, "spark-local"),
                "TMPDIR": tmp,
                "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "PYSPARK_PYTHON": sys.executable,
                "PYTHONPATH": os.pathsep.join(
                    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
                ),
            }
        )
        self.child_env = dict(os.environ, PYTHONUNBUFFERED="1")

    def load_refs(self) -> dict:
        with open(self.refs_path) as fh:
            return json.load(fh)

    def write_spans(self, spans: list[dict]) -> None:
        path = os.path.join(self.results_dir, f"spans-{self.workload}-{self.seed}.jsonl")
        with open(path, "w") as fh:
            for rec in sorted(spans, key=lambda r: r["start"]):
                fh.write(json.dumps(rec) + "\n")

    def child(self, script: str, *args: str, timeout: float) -> None:
        """Run ``perfbench/<script>`` in a fresh interpreter; its output
        goes to this process's standard error."""
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, script), *args], env=self.child_env,
            cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr, timeout=timeout,
        )
        if out.returncode != 0:
            raise RuntimeError(f"{script} exited with {out.returncode}")


def probe_setup(ctx: Context) -> float:
    """Seconds from a fresh interpreter's start until its SparkSession
    has run a first job."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "probe.py")],
        env=ctx.child_env, cwd=ROOT, capture_output=True, text=True, timeout=120,
    )
    for line in out.stdout.splitlines():
        if line.startswith("ready "):
            return float(line.split()[1])
    raise RuntimeError(f"set-up probe failed: {out.stderr[-500:]}")


def run_registry(ctx: Context, seconds: float) -> dict:
    """The workload runs in a fresh process, whose set-up is one sample
    of ``setup_s``; a probe process gives the other. The two samples of
    a run agree within a few percent, so a run leaves the rest of its
    time to the timed passes."""
    from helpers import median, wait_children

    samples = [probe_setup(ctx)]
    wait_children()
    result = os.path.join(ctx.work_dir, "registry.json")
    ctx.child("registry_workload.py", str(ctx.seed), str(ctx.trace), str(seconds), result,
              timeout=170)
    with open(result) as fh:
        res = json.load(fh)
    samples.append(res.pop("setup_sample_s"))
    res["metrics"]["setup_s"] = res["detail"]["named"]["setup_s"] = median(samples)
    res["detail"]["setup_samples_s"] = samples
    return res


def run_task(ctx: Context, seconds: float) -> dict:
    import task_workload

    ctx.refs = ctx.load_refs()
    return task_workload.run(ctx, seconds, ctx.trace)


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "pypers_spark", "__init__.py")):
        print(f"no pypers_spark package beside {HERE}: run from a checkout", file=sys.stderr)
        return 2

    ctx = Context(args.workload, args.seed, args.trace)
    sys.path.insert(0, ROOT)
    from helpers import adopt_orphans, host_state, versions, wait_children

    adopt_orphans()
    start = host_state()
    t0 = time.perf_counter()
    try:
        if not os.path.isfile(ctx.refs_path):
            ctx.child("prepare.py", timeout=840)
        runner = run_registry if args.workload == "registry" else run_task
        res = runner(ctx, args.seconds)
    finally:
        wait_children()
        if ctx.owns_work_dir:
            shutil.rmtree(ctx.work_dir, ignore_errors=True)
    end = host_state()
    env = {"seed": args.seed, "workload": args.workload, "trace": args.trace,
           "cpus": CPUS, "tables": os.path.relpath(SF_DIR, ROOT),
           "wall_s": time.perf_counter() - t0,
           "load_avg_start": start["load_avg"], "load_avg_end": end["load_avg"],
           "cpu_steal_s": end["cpu_steal_s"] - start["cpu_steal_s"], **versions()}
    failed = len(res["failures"])
    detail = {
        "environment": env,
        "end_to_end": res["metrics"],
        "attempted": res["attempted"],
        "failed": failed,
        "fail_ratio": failed / res["attempted"],
        "failures": res["failures"],
        **res["detail"],
    }
    detail["named"] = {
        k: {"value": v, "unit": "MB" if k.endswith("_mb") else "s"}
        for k, v in detail["named"].items()
    }
    detail["named"]["fail_ratio"] = {"value": detail["fail_ratio"], "unit": "ratio"}
    path = os.path.join(
        ctx.results_dir, f"{args.workload}-{args.seed}-trace{args.trace}.json"
    )
    with open(path, "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    metrics = res["detail"]["traced"]["per_layer"] if args.trace else res["metrics"]
    print(json.dumps({"detail": path, "named": detail["named"],
                      "failures": res["failures"][:5], "environment": env}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
