"""parallel.run_all: concurrent branches, inherited Spark local properties,
settle-then-raise on failure."""

import logging
import threading
import time

import pytest

from azure_blob_crawler_spark.parallel import run_all


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
