"""``tables.load`` reads a parquet file's schema from its footer once:
a later load of the same unchanged file under the same inference confs
runs no Spark job, while a rewritten file or a directory is inferred
again."""

import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from flink_kafka_spark.tables import load


def _jobs(spark, fn):
    """(result of ``fn``, number of Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"tables:{uuid.uuid4().hex}"
    sc.setJobGroup(group, "load")
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_runs_no_job(spark, sf_dir):
    first, inferred = _jobs(spark, lambda: load(spark, sf_dir, "orders"))
    again, jobs = _jobs(spark, lambda: load(spark, sf_dir, "orders"))
    assert jobs == 0
    # a table loaded before in this session reads 0 here, not 1
    assert inferred <= 1
    assert again.schema == first.schema


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert _jobs(spark, lambda: load(spark, str(tmp_path), "t"))[1] == 1
    assert _jobs(spark, lambda: load(spark, str(tmp_path), "t"))[1] == 0
    # a new length and modification time: the cached schema is stale
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    os.utime(path, ns=(0, os.stat(path).st_mtime_ns + 10**9))
    df, jobs = _jobs(spark, lambda: load(spark, str(tmp_path), "t"))
    assert jobs == 1
    assert df.columns == ["a", "b"]
    assert sorted(df.collect()) == [(1, "x"), (2, "y")]
    assert _jobs(spark, lambda: load(spark, str(tmp_path), "t"))[1] == 0


def test_directory_is_inferred_on_every_load(spark, tmp_path):
    """A directory's schema comes from files the status of the directory
    does not describe, so every load infers it; a file beside it is
    cached."""
    table = tmp_path / "d.parquet"
    table.mkdir()
    pq.write_table(pa.table({"a": [1]}), str(table / "part-0.parquet"))
    pq.write_table(pa.table({"a": [2]}), str(tmp_path / "f.parquet"))
    for name, want in (("d", [1, 1, 1]), ("f", [1, 0, 0])):
        assert [_jobs(spark, lambda: load(spark, str(tmp_path), name))[1]
                for _ in range(3)] == want, name


def test_events_keeps_its_dtypes_from_the_cached_schema(spark, sf_dir, tmp_path):
    """events.ts is TIMESTAMP(NANOS), read as a long under nanosAsLong
    and converted to microseconds; the cached schema still says long, so
    the same fix-up applies on a load that infers nothing."""
    shutil.copy(os.path.join(sf_dir, "events.parquet"), tmp_path / "events.parquet")
    first, inferred = _jobs(spark, lambda: load(spark, str(tmp_path), "events"))
    again, jobs = _jobs(spark, lambda: load(spark, str(tmp_path), "events"))
    assert (inferred, jobs) == (1, 0)
    assert again.dtypes == first.dtypes
    assert dict(again.dtypes)["ts"] == "timestamp"
    assert sorted(again.collect()) == sorted(first.collect())


def test_inference_conf_change_infers_again(spark, tmp_path):
    pq.write_table(pa.table({"b": pa.array([b"x"], pa.binary())}), str(tmp_path / "t.parquet"))
    key = "spark.sql.parquet.binaryAsString"
    prior = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert _jobs(spark, lambda: load(spark, str(tmp_path), "t"))[1] == 1
        spark.conf.set(key, "true")
        df, jobs = _jobs(spark, lambda: load(spark, str(tmp_path), "t"))
    finally:
        spark.conf.set(key, prior)
    assert (jobs, df.dtypes) == (1, [("b", "string")])
