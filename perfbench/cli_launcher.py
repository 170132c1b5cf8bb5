"""Run the pypers_spark CLI exactly as ``python -m pypers_spark ARGS``
does, and write a JSON report beside it.

    python3 perfbench/cli_launcher.py REPORT TRACE ARGS...

The report always holds the CLI's exit code and ``first_job_s``: the
age of this process when its SparkSession finished a first job (null
when the run never started Spark, as a no-op rerun does). A watcher
thread finds that moment by polling the driver's status store; it
imports nothing and stops once it has seen a finished job.

With TRACE=1 the import of the CLI module is span ``cli.import``, the
task-path layers are wrapped (see ``task_layers``), the whole CLI call
is span ``cli.run`` (the parent of every other span, whichever thread
opens it), and the report also holds the spans and counters.
"""

from __future__ import annotations

import json
import os
import runpy
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from helpers import process_age  # noqa: E402


def _watch_first_job(report: dict, stop: threading.Event) -> None:
    while not stop.wait(0.02):
        pyspark = sys.modules.get("pyspark")
        sc = getattr(getattr(pyspark, "SparkContext", None), "_active_spark_context", None)
        jsc = getattr(sc, "_jsc", None)
        if jsc is None:
            continue
        from py4j.protocol import Py4JError

        try:
            jobs = jsc.sc().statusStore().jobsList(None)
            done = any(
                jobs.apply(i).status().toString() != "RUNNING" for i in range(jobs.size())
            )
        except Py4JError:  # the context is still starting or already stopping
            continue
        if done:
            report["first_job_s"] = process_age()
            return


def main(report_path: str, trace: bool, cli_args: list[str]) -> int:
    report: dict = {"first_job_s": None}
    layers = None
    if trace:
        import task_layers

        layers = task_layers.TaskLayers()
        with layers.tracer.span("cli.import"):
            import pypers_spark.cli  # noqa: F401
        layers.install()
    stop = threading.Event()
    watcher = threading.Thread(target=_watch_first_job, args=(report, stop), daemon=True)
    watcher.start()
    sys.argv = ["pypers_spark", *cli_args]
    code = 0
    try:
        if layers is None:
            runpy.run_module("pypers_spark", run_name="__main__", alter_sys=True)
        else:
            with layers.tracer.span("cli.run") as rec:
                layers.tracer.root = rec["id"]
                runpy.run_module("pypers_spark", run_name="__main__", alter_sys=True)
    except SystemExit as exc:
        code = exc.code if isinstance(exc.code, int) else (0 if exc.code is None else 1)
    finally:
        stop.set()
        watcher.join(timeout=5)
        report["exit_code"] = code
        if layers is not None:
            report.update(layers.finish())
        with open(report_path, "w") as fh:
            json.dump(report, fh)
    return code


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2] == "1", sys.argv[3:]))
