"""parallel.run_all: concurrent branches, inherited Spark local properties,
settle-then-raise on failure. parallel.fan_out: widens a scan, leaves a
shuffled or cached input untouched without running a job."""

import logging
import threading
import time

import pytest
from pyspark.sql import functions as F

from azure_blob_crawler_spark.parallel import fan_out, run_all


def test_run_all_inherits_job_group_and_isolates_siblings(spark):
    sc = spark.sparkContext
    sc.setJobGroup("outer", "outer")
    try:
        both_started = threading.Barrier(2, timeout=30)

        def branch(own):
            both_started.wait()
            seen = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(own, own)  # must not leak into the sibling
            both_started.wait()
            return seen, sc.getLocalProperty("spark.jobGroup.id")

        wall_s = {}
        out = run_all(spark, {"a": lambda: branch("a"), "b": lambda: branch("b")}, wall_s)
        assert out == {"a": ("outer", "a"), "b": ("outer", "b")}
        assert set(wall_s) == {"a", "b"}
        assert sc.getLocalProperty("spark.jobGroup.id") == "outer"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_run_all_settles_every_branch_then_raises_first_error(spark, caplog):
    finished = []

    def slow():
        time.sleep(0.5)
        finished.append("slow")
        return 1

    def fails_first():
        raise ValueError("first")

    def fails_later():
        time.sleep(0.2)
        raise KeyError("later")

    wall_s = {}
    with caplog.at_level(logging.WARNING, logger="azure_blob_crawler_spark.parallel"):
        with pytest.raises(ValueError, match="first"):
            run_all(spark, {"slow": slow, "early": fails_first, "late": fails_later}, wall_s)
    assert finished == ["slow"]
    assert set(wall_s) == {"slow", "early", "late"}
    logged = " ".join(r.getMessage() for r in caplog.records)
    assert "'early'" in logged and "'late'" in logged


def _jobs_in_group(spark, group, fn):
    """(fn's result, ids of the Spark jobs fn submitted)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def test_fan_out_leaves_shuffled_and_cached_input_alone(spark):
    base = spark.range(200)
    cached = base.select((F.col("id") % 7).alias("k"), "id").persist()
    cached.count()
    inputs = {
        "persisted": cached,
        "persisted_projection": cached.select("id"),
        "joined": base.join(spark.range(50), "id"),
        "aggregated": base.groupBy((F.col("id") % 3).alias("k")).count(),
    }
    try:
        for name, df in inputs.items():
            out, jobs = _jobs_in_group(spark, f"fan_out_{name}", lambda: fan_out(df))
            assert out is df, name
            assert jobs == [], name
    finally:
        cached.unpersist()


def test_fan_out_widens_one_row_group_scan(spark, tmp_path):
    path = str(tmp_path / "one_group")
    spark.range(500).coalesce(1).write.parquet(path)
    scan = spark.read.parquet(path)
    assert scan.rdd.getNumPartitions() == 1
    out = fan_out(scan.select("id"))
    assert out.rdd.getNumPartitions() == 2 * spark.sparkContext.defaultParallelism
    assert sorted(r["id"] for r in out.collect()) == list(range(500))
