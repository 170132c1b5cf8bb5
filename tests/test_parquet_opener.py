"""sources.io.read_parquet: the one parquet opener remembers each
inferred schema per process, so reopening an unchanged table launches
no Spark job, while a rewritten table or a changed parquet-reading conf
is inferred afresh."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod
from pypers_spark.sources.io import read_parquet


def _jobs(spark, group, fn):
    """Run ``fn`` under a fresh job group; return (result, job count)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_reopen_launches_no_job(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(50).selectExpr("id", "id * 2 AS v").write.parquet(path)
    first, n_first = _jobs(spark, "opener-first", lambda: read_parquet(spark, path))
    second, n_second = _jobs(spark, "opener-second", lambda: read_parquet(spark, path))
    assert n_first >= 1  # schema inference is a job
    assert n_second == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewritten_table_is_reinferred(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(5).write.parquet(path)
    assert read_parquet(spark, path).columns == ["id"]
    spark.range(10, 13).selectExpr("id", "'x' AS tag").write.mode("overwrite").parquet(path)
    df = read_parquet(spark, path)
    assert df.columns == ["id", "tag"]
    assert sorted(r["id"] for r in df.collect()) == [10, 11, 12]


def test_nanos_as_long_conf_is_part_of_the_key(spark, tmp_path):
    """The driver's events table stores ts as nanosecond timestamps:
    Spark reads them only with nanosAsLong (as longs), and refuses them
    without it."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import LongType

    path = str(tmp_path / "events.parquet")
    ts = pa.array([1_700_000_000_123_456_789, 1_700_000_001_000_000_000], pa.timestamp("ns"))
    pq.write_table(pa.table({"event_id": [1, 2], "ts": ts}), path)
    key = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        assert isinstance(read_parquet(spark, path).schema["ts"].dataType, LongType)
        spark.conf.set(key, "false")
        # The memo must not hand back the long-typed schema inferred
        # under the other conf value.
        with pytest.raises(Exception, match="(?i)nanos"):
            read_parquet(spark, path)
    finally:
        spark.conf.set(key, prev)


@pytest.mark.parametrize("key", ["q3_shipping_priority", "mm_chunk_bytes"])
def test_second_build_runs_no_job(spark, sf_dir, key):
    query = entry_mod.queries()[key]
    query(spark, sf_dir)
    _, n = _jobs(spark, f"opener-build-{key}", lambda: query(spark, sf_dir))
    assert n == 0, key
