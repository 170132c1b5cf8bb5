"""Task.store: a chunk's shared upstream runs once, and a store that
dies between field writes leaves the task pending."""

from __future__ import annotations

import pytest
import yaml

from pypers_spark.batch import Batch, RunContext
from pypers_spark.functions.caching import cached_relation
from pypers_spark.stage import Stage

# Set by the test before a run: counts rows through the source's UDF.
SOURCE_ROWS = None


class CountedSource(Stage):
    outputs = ("a",)

    def process(self, pipeline, config, status=None, **inputs):
        from pyspark.sql import functions as F

        from pypers_spark.session import current_session

        acc = SOURCE_ROWS

        @F.udf("long")
        def counted(x):
            acc.add(1)
            return x

        return {"a": current_session().range(100).select(counted("id").alias("id"))}


class Derived(Stage):
    inputs = ("a",)
    outputs = ("b",)

    def process(self, pipeline, config, status=None, a=None, **inputs):
        from pyspark.sql import functions as F

        return {"b": a.groupBy((F.col("id") % 7).alias("k")).count()}


class TwoFields(Stage):
    outputs = ("first", "second")

    def process(self, pipeline, config, status=None, **inputs):
        from pyspark.sql import functions as F

        from pypers_spark.session import current_session

        spark = current_session()
        second = spark.range(10)
        if config.get("fail", False):
            second = second.select(F.raise_error(F.lit("injected store fault")).alias("id"))
        return {"first": spark.range(10), "second": second}


def write_spec(path, spec):
    path.mkdir(parents=True, exist_ok=True)
    (path / "task.yml").write_text(yaml.safe_dump(spec))


def test_shared_upstream_runs_once(tmp_path, spark):
    global SOURCE_ROWS
    SOURCE_ROWS = spark.sparkContext.accumulator(0)
    write_spec(
        tmp_path,
        {
            "runnable": True,
            "input_ids": [1],
            "pipeline": [
                "tests.test_task_store.CountedSource",
                "tests.test_task_store.Derived",
            ],
        },
    )
    batch = Batch()
    batch.load(tmp_path)
    data = batch.context(tmp_path).run()
    assert (tmp_path / "data" / "1" / "a.parquet").is_dir()
    assert (tmp_path / "data" / "1" / "b.parquet").is_dir()
    assert SOURCE_ROWS.value == 100  # not 200: b read a's cache
    assert cached_relation(data[1]["a"]) is None  # store released its cache


def test_store_fault_leaves_task_pending(tmp_path, spark):
    spec = {
        "runnable": True,
        "input_ids": [1],
        "pipeline": ["tests.test_task_store.TwoFields"],
        "config": {"two-fields": {"fail": False}},
    }
    write_spec(tmp_path, spec)
    batch = Batch()
    batch.load(tmp_path)
    batch.context(tmp_path).run()
    assert RunContext(batch.task(tmp_path)).pending == ""

    spec["config"]["two-fields"]["fail"] = True
    write_spec(tmp_path, spec)
    batch = Batch()
    batch.load(tmp_path)
    with pytest.raises(Exception, match="injected store fault"):
        batch.context(tmp_path).run()

    # Reverting the config must not make the half-stored task read as
    # complete.
    spec["config"]["two-fields"]["fail"] = False
    write_spec(tmp_path, spec)
    batch = Batch()
    batch.load(tmp_path)
    assert RunContext(batch.task(tmp_path)).pending != ""
