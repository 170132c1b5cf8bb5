"""Traced layers of one CLI process on the task path.

``TaskLayers.install()`` wraps the public functions each layer exposes;
``finish()`` puts them back and returns the spans and the counters
measured at the same boundaries:

    cli          pypers_spark.cli import (span opened by the launcher)
    session      session.get_session: the SparkSession start, JVM included
    batch        Batch.load
    task         Task.is_pending, Task.load, Task.store
    pipeline     Pipeline.process
    operators    Stage.run: one stage building its part of the plan,
                 with the Spark jobs it launches eagerly
    sources      sources.registry.load_table
    catalyst     a re-plan of each written DataFrame (``trace.catalyst``)
    exec         DataFrameWriter.parquet: the jobs of each field write
    status       status.update
    functions    cached RDDs after each store, checkpoint bytes at exit

Spark jobs are attributed by job window on the thread's job group,
which Batch sets to the task path. The windows' reads and the re-plan
are ``trace.*`` spans, so no layer's time includes them.
"""

from __future__ import annotations

import os

from helpers import checkpoint_bytes, dir_bytes
from sparkstats import SparkCounters, floor_s, plan_shape
from spans import Tracer


class TaskLayers:
    def __init__(self):
        self.tracer = Tracer(run_id=f"cli-{os.getpid()}")
        self._counters = None
        self._spark = None
        self._undo = []
        self.storage = {"cached_rdds": 0, "cached_bytes": 0}

    def counters(self):
        if self._counters is None:
            from pypers_spark.session import current_session

            with self.tracer.span("trace.window"):
                self._spark = current_session()
                self._counters = SparkCounters(self._spark.sparkContext, self.tracer)
        return self._counters

    def _with_jobs(self, rec, call, *args, **kwargs):
        with self.counters().window() as win:
            result = call()
        rec.update(win.totals)
        return result

    def _stage_run(self, rec, call, stage, *args, **kwargs):
        rec["stage"] = stage.id
        return self._with_jobs(rec, call)

    def _store(self, rec, call, task, *args, **kwargs):
        result = self._with_jobs(rec, call)
        with self.tracer.span("trace.storage"):
            rec["bytes"] = dir_bytes(str(task.data_dirpath))
            rec["task"] = str(task.path)
            storage = self.counters().storage()
        for k, v in storage.items():
            self.storage[k] = max(self.storage[k], v)
        return result

    def _write(self, rec, call, writer, *args, **kwargs):
        with self.tracer.span("trace.catalyst") as plan_rec:
            plan_rec.update(plan_shape(writer._df))
        return self._with_jobs(rec, call)

    def install(self) -> "TaskLayers":
        from pyspark.sql.readwriter import DataFrameWriter

        from pypers_spark import session, status
        from pypers_spark.batch import Batch
        from pypers_spark.pipeline import Pipeline
        from pypers_spark.sources import registry
        from pypers_spark.stage import Stage
        from pypers_spark.task import Task

        wrap = self.tracer.wrap
        self._undo = [
            wrap(session, "get_session", "session.start"),
            wrap(Batch, "load", "batch.load"),
            wrap(Task, "is_pending", "task.is_pending"),
            wrap(Task, "load", "task.load"),
            wrap(Task, "store", "task.store", self._store),
            wrap(Pipeline, "process", "pipeline.process"),
            wrap(Stage, "run", "operators.build", self._stage_run),
            wrap(registry, "load_table", "sources.load_table"),
            wrap(DataFrameWriter, "parquet", "exec.write", self._write),
            wrap(status, "update", "status.update"),
        ]
        return self

    def finish(self) -> dict:
        for undo in self._undo:
            undo()
        return {
            "spans": self.tracer.spans,
            "storage": self.storage,
            "checkpoint_bytes": checkpoint_bytes(),
            "floor_s": floor_s(self._spark) if self._counters else None,
        }

