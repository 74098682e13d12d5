"""Session defaults that need no running Spark session."""

import os

import pytest

from polars_mas_spark.session import default_shuffle_partitions


@pytest.mark.parametrize(
    "master, expected",
    [("local", 1), ("local[3]", 3), ("local[6,2]", 6), ("local[5, 4]", 5)],
)
def test_local_master_shuffle_partitions_follow_its_cores(master, expected, monkeypatch):
    # SPARK_GRAFT_CPUS must not override the core count the master names.
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "7")
    assert default_shuffle_partitions(master) == expected


def test_local_star_master_uses_this_machines_cores(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_shuffle_partitions("local[*]") == len(os.sched_getaffinity(0))
    assert default_shuffle_partitions("local[*,3]") == len(os.sched_getaffinity(0))


@pytest.mark.parametrize(
    "master", ["spark://host:7077", "yarn", "k8s://https://h:6443", "local-cluster[2,1,1024]"]
)
def test_non_local_master_keeps_the_old_default(master, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_shuffle_partitions(master) == 32
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "12")
    assert default_shuffle_partitions(master) == 12
