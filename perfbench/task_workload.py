"""The ``task_incremental`` workload: the paper's own surface, a task
tree run through the CLI the way a user runs it.

The tree holds the benchmark's copies of three example specs
(``specs/``), pointed at the benchmark's tables. One cycle is three CLI
runs, each a fresh ``python -m pypers_spark TREE --run`` process (via
``cli_launcher.py``), one after another:

    cold    every task runs from scratch and stores its fields as parquet
    noop    nothing is pending; nothing may be rewritten
    pickup  after a seeded edit of one late stage's config
            (repetition-filter/max_dup_2gram), the edited task picks up
            from its stored results

Artifacts are cold by construction: the engine scopes its checkpoint
directory per process, and in-process memos die with the process.

Checks: the cold run's stored fields equal the DuckDB oracle of the
registry key that runs the same pipeline or query (``pipe_curation``,
``pipe_training``, ``dd_minhash_lsh_prod``); the no-op run rewrites no
file under any ``data/``; the pickup run reports "Picking up" and its
fields equal those of a cold run of the edited spec in a scratch tree
(made for every edited value by ``prepare.py``).
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys
import threading
import time

import numpy as np
import pandas as pd

from helpers import (
    RssSampler,
    children,
    fingerprint,
    median,
    percentile,
    wait_children,
)

HERE = os.path.dirname(os.path.abspath(__file__))
SPECS = ("checkpointed_query", "training_data_pipeline", "training_set_build")
EDITED = "training_data_pipeline"
EDIT_LINE = "    max_dup_2gram: 0.3\n"
# Each drops a different set of documents from the benchmark's corpus
# (whose duplicate-2-gram fractions run from 0 to about 0.15), so a
# pickup that ignored the edit would store other fields.
EDIT_VALUES = (0.05, 0.07, 0.09)
ORACLE_KEYS = ("pipe_curation", "pipe_training", "dd_minhash_lsh_prod")
CLI_TIMEOUT_S = 150


def spec_text(name: str, sf_dir: str) -> str:
    with open(os.path.join(HERE, "specs", name, "task.yml")) as fh:
        return fh.read().replace("SF_DIR", sf_dir)


def make_tree(root: str, sf_dir: str) -> str:
    for name in SPECS:
        os.makedirs(os.path.join(root, name))
        with open(os.path.join(root, name, "task.yml"), "w") as fh:
            fh.write(spec_text(name, sf_dir))
    return root


def edit_spec(spec: str, value: float) -> str:
    if EDIT_LINE not in spec:
        raise ValueError("the spec no longer holds the line the workload edits")
    return spec.replace(EDIT_LINE, EDIT_LINE.replace("0.3", str(value)))


def field_frames(task_dir: str) -> dict[str, pd.DataFrame]:
    data = os.path.join(task_dir, "data", "1")
    return {
        name[: -len(".parquet")]: pd.read_parquet(os.path.join(data, name))
        for name in sorted(os.listdir(data))
        if name.endswith(".parquet")
    }


def rnd(s: pd.Series, d: int) -> pd.Series:
    """pypers_spark.functions.rounding.rnd: half-up via floor."""
    return np.floor(s * 10**d + 0.5) / float(10**d)


def data_files(tree: str) -> dict[str, tuple]:
    out = {}
    for name in SPECS:
        for root, _, files in os.walk(os.path.join(tree, name, "data")):
            for f in files:
                st = os.stat(os.path.join(root, f))
                out[os.path.join(root, f)] = (st.st_ino, st.st_size, st.st_mtime_ns)
    return out


class CliRunner:
    """Runs the CLI in a fresh process and times what a user sees.
    ``name`` keeps its report and log files apart from other runners'."""

    def __init__(self, ctx, name: str):
        self.ctx = ctx
        self.name = name
        self.n = 0
        self.setup_samples: list[float] = []

    def __call__(self, tree: str, trace: bool = False) -> dict:
        self.n += 1
        report = os.path.join(self.ctx.work_dir, f"{self.name}-{self.n}.json")
        log = os.path.join(self.ctx.work_dir, f"{self.name}-{self.n}.log")
        cmd = [sys.executable, os.path.join(HERE, "cli_launcher.py"), report,
               "1" if trace else "0", tree, "--run"]
        lines, task_s, entered = [], [], None
        running = set(children(os.getpid()))  # e.g. the caller's own JVM
        t0 = time.perf_counter()
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                                    env=self.ctx.child_env, text=True, cwd=self.ctx.root)
            killer = threading.Timer(CLI_TIMEOUT_S, proc.kill)
            killer.start()
            try:
                with RssSampler(proc.pid) as rss:
                    for line in proc.stdout:
                        now = time.perf_counter()
                        lines.append(line)
                        if "Entering task:" in line:
                            entered = now
                        elif "Results have been stored" in line and entered is not None:
                            task_s.append(now - entered)
                            entered = None
                    proc.wait()
            finally:
                killer.cancel()
        wall = time.perf_counter() - t0
        wait_children(keep=running)  # the CLI's JVM can outlive it by a moment
        result = {"wall_s": wall, "exit_code": proc.returncode, "task_s": task_s,
                  "rss_mb": rss.peak_mb, "stdout": "".join(lines), "log": log}
        if os.path.isfile(report):
            with open(report) as fh:
                result.update(json.load(fh))
        if result.get("first_job_s") is not None:
            self.setup_samples.append(result["first_job_s"])
        return result


class TaskRun:
    def __init__(self, ctx):
        self.ctx = ctx
        self.oracle = ctx.refs["oracle"]
        self.refs = ctx.refs["task"]
        self.rng = random.Random(ctx.seed)
        self.cli = CliRunner(ctx, "cli")
        self.attempted = 0
        self.failures: list[str] = []
        self.cycles: list[dict] = []

    def fail(self, what: str) -> None:
        self.failures.append(what[:500])

    def step(self, name: str, tree: str, trace: bool) -> dict:
        self.attempted += 1
        res = self.cli(tree, trace)
        if res["exit_code"] != 0:
            with open(res["log"]) as fh:
                tail = fh.read()[-300:]
            self.fail(f"{name}: CLI exit {res['exit_code']}: {tail}")
        return res

    def check_cold(self, tree: str) -> None:
        cq = field_frames(os.path.join(tree, "checkpointed_query"))
        ts = field_frames(os.path.join(tree, "training_set_build"))
        tdp = field_frames(os.path.join(tree, "training_data_pipeline"))
        if fingerprint(cq["checkpointed"]) != self.oracle["dd_minhash_lsh_prod"]:
            self.fail("cold: checkpointed_query differs from the oracle")
        if fingerprint(ts["stats"]) != self.oracle["pipe_training"]:
            self.fail("cold: training_set_build differs from the oracle")
        stats = tdp["lang_stats"][["lang", "n_docs", "total_tokens"]].copy()
        stats["avg_quality"] = rnd(tdp["lang_stats"]["avg_quality"], 4)
        if fingerprint(stats) != self.oracle["pipe_curation"]:
            self.fail("cold: training_data_pipeline lang_stats differs from the oracle")
        self.check_rollup(tdp, "cold")

    def check_pickup(self, tree: str, value: float) -> None:
        tdp = field_frames(os.path.join(tree, EDITED))
        if {k: fingerprint(v) for k, v in tdp.items()} != self.refs[str(value)]:
            self.fail(f"pickup: fields differ from a cold run of the edited spec ({value})")
        self.check_rollup(tdp, "pickup")

    def checked(self, step: str, check, *args) -> None:
        """Run an output check; stored fields that are missing or
        unreadable count as a wrong output."""
        try:
            check(*args)
        except (OSError, KeyError, ValueError) as exc:
            self.fail(f"{step}: stored fields missing or unreadable: {exc!r}")

    def check_rollup(self, tdp: dict[str, pd.DataFrame], step: str) -> None:
        """The stored corpus must add up to the stored per-lang rollup."""
        cur = tdp["curated"].groupby("lang").agg(
            n_docs=("doc_id", "size"), total_tokens=("n_tokens_ws", "sum"))
        got = tdp["lang_stats"].set_index("lang")[["n_docs", "total_tokens"]]
        if not cur.sort_index().astype("int64").equals(got.sort_index().astype("int64")):
            self.fail(f"{step}: curated corpus does not add up to lang_stats")

    def cycle(self, trace: bool, value: float | None = None) -> dict:
        if value is None:
            value = self.rng.choice(EDIT_VALUES)
        tree = make_tree(os.path.join(self.ctx.work_dir, f"tree-{len(self.cycles)}"), self.ctx.sf_dir)
        cold = self.step("cold", tree, trace)
        if cold["exit_code"] == 0:
            self.checked("cold", self.check_cold, tree)
        before = data_files(tree)
        noop = self.step("noop", tree, trace)
        if data_files(tree) != before:
            self.fail("noop: files under data/ were rewritten")
        if "Starting from scratch" in noop["stdout"] or "Picking up" in noop["stdout"]:
            self.fail("noop: a task ran")
        spec_path = os.path.join(tree, EDITED, "task.yml")
        with open(spec_path) as fh:
            spec = edit_spec(fh.read(), value)
        with open(spec_path, "w") as fh:
            fh.write(spec)
        pickup = self.step("pickup", tree, trace)
        if "Picking up" not in pickup["stdout"] or "Starting from scratch" in pickup["stdout"]:
            self.fail("pickup: the edited task did not pick up from its stored results")
        if pickup["exit_code"] == 0:
            self.checked("pickup", self.check_pickup, tree, value)
        cyc = {"edit_value": value, "cold": cold, "noop": noop, "pickup": pickup}
        self.cycles.append(cyc)
        shutil.rmtree(tree, ignore_errors=True)
        return cyc

    def cycles_for(self, seconds: float) -> list[dict]:
        """Untraced cycles until ``seconds`` have gone by."""
        out = []
        t_end = time.perf_counter() + seconds
        while not out or time.perf_counter() < t_end:
            out.append(self.cycle(trace=False))
        return out


def cli_runs(cycle: dict) -> list[dict]:
    return [cycle["cold"], cycle["noop"], cycle["pickup"]]


def _summary(c: dict) -> dict:
    keep = ("wall_s", "exit_code", "task_s", "first_job_s", "rss_mb")

    def brief(r):
        return {k: r.get(k) for k in keep}

    return {"edit_value": c["edit_value"], "cold": brief(c["cold"]),
            "noop": brief(c["noop"]), "pickup": brief(c["pickup"])}


def run(ctx, seconds: float, trace: bool) -> dict:
    tr = TaskRun(ctx)
    cycles = tr.cycles_for(seconds)
    task_s = [t for c in cycles for s in ("cold", "pickup") for t in c[s]["task_s"]]
    metrics = {
        "setup_s": median(tr.cli.setup_samples),
        "warmup_s": median([c["cold"]["wall_s"] for c in cycles]),
        "pass_s": median([c["pickup"]["wall_s"] for c in cycles]),
        "step_p50_s": percentile(task_s, 50),
        "peak_rss_mb": median([c[s]["rss_mb"] for c in cycles for s in ("cold", "pickup")]),
    }
    detail = {
        "named": {
            "setup_s": metrics["setup_s"],
            "task_cold_s": metrics["warmup_s"],
            "task_noop_s": median([c["noop"]["wall_s"] for c in cycles]),
            "task_pickup_s": metrics["pass_s"],
            "task_p90_s": percentile(task_s, 90),
            "peak_rss_mb": metrics["peak_rss_mb"],
        },
        "cycles": [_summary(c) for c in cycles],
        "setup_samples_s": tr.cli.setup_samples,
    }
    if trace:
        traced = [tr.cycle(trace=True, value=cycles[0]["edit_value"])]
        detail["traced"] = traced_layers(ctx, traced, cycles)
    return {"metrics": metrics, "attempted": tr.attempted, "failures": tr.failures,
            "detail": detail}


def traced_layers(ctx, traced: list[dict], untraced: list[dict]) -> dict:
    """Per-cycle layer totals from the traced CLI processes."""
    from spans import accounting, layer_metrics, layer_totals, merge

    span_lists, floors, storage, ckpt = [], [], [], 0
    for c in traced:
        for r in cli_runs(c):
            span_lists.append(r.get("spans", []))
            if r.get("floor_s") is not None:
                floors.append(r["floor_s"])
            if "storage" in r:
                storage.append(r["storage"])
            ckpt += r.get("checkpoint_bytes", 0)
    spans = merge(span_lists)
    ctx.write_spans(spans)
    n = len(traced)
    totals = layer_totals(spans)

    def wall(name):
        return totals.get(name, {}).get("wall_s", 0.0) / n

    def calls(name):
        return totals.get(name, {}).get("calls", 0) / n

    def summed(name, field):
        return sum(s.get(field, 0) for s in spans if s["name"] == name) / n

    out = layer_metrics(spans, n)
    out["exec.floor_s"] = median(floors)
    out["functions.cached_rdds"] = max(s["cached_rdds"] for s in storage)
    out["functions.cached_bytes"] = max(s["cached_bytes"] for s in storage)
    out["functions.checkpoint_bytes_written"] = ckpt / n

    def cycle_wall(cs):
        return median([sum(r["wall_s"] for r in cli_runs(c)) for c in cs])

    out["trace.overhead_ratio"] = cycle_wall(traced) / cycle_wall(untraced) - 1
    # The traced wall is each CLI process's, from spawn to exit: the
    # residual holds interpreter start-up and exit besides cli.run's self.
    out.update(accounting(spans, sum(r["wall_s"] for c in traced for r in cli_runs(c))))
    # Time inside each call, children included and tracing left out:
    # the task-path layers are nested calls around the layers above.
    task_path = {
        "cli.import_s": median([s["end"] - s["start"] for s in spans if s["name"] == "cli.import"]),
        "cli.run_self_s": totals.get("cli.run", {}).get("self_s", 0.0) / n,
        "session.start_s": wall("session.start"),
        "batch.load_s": wall("batch.load"),
        "task.is_pending_s": wall("task.is_pending"),
        "pipeline.process_s": wall("pipeline.process"),
        "pipeline.stage_runs": calls("operators.build"),
        "task.load_s": wall("task.load"),
        "task.store_s": wall("task.store"),
        "task.store_jobs": summed("task.store", "jobs"),
        "task.store_stages": summed("task.store", "stages"),
        "task.store_cpu_s": summed("task.store", "cpu_s"),
        "task.store_bytes": summed("task.store", "bytes"),
        "status.update_calls": calls("status.update"),
        "status.update_s": wall("status.update"),
    }
    per_step = {
        "cold_s": median([c["cold"]["wall_s"] for c in traced]),
        "noop_s": median([c["noop"]["wall_s"] for c in traced]),
        "pickup_s": median([c["pickup"]["wall_s"] for c in traced]),
    }
    return {"per_layer": out, "task_path": task_path, "per_step": per_step,
            "per_task": [s for s in spans if s["name"] == "task.store"]}
