"""Focused pins for the state-partition rule
(streaming.runtime.state_partitions, shared by the deployed app and the
drain gates) and the scratch-root medium selection."""

from __future__ import annotations

import os

import pytest

from bigdata_invoice_stream_analysis_spark import scratch
from bigdata_invoice_stream_analysis_spark.streaming.runtime import (
    state_partitions,
)


class _FakeSC:
    def __init__(self, cores: int) -> None:
        self.defaultParallelism = cores


class _FakeSpark:
    def __init__(self, cores: int) -> None:
        self.sparkContext = _FakeSC(cores)


@pytest.fixture(autouse=True)
def _no_env(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRAIN_STATE_PARTITIONS", raising=False)


def test_python_state_gets_owned_cores():
    assert state_partitions(_FakeSpark(32), python_state=True) == 32
    assert state_partitions(_FakeSpark(8), python_state=True) == 8


def test_python_state_caps_at_32():
    assert state_partitions(_FakeSpark(64), python_state=True) == 32


def test_jvm_state_quarters_owned_cores():
    # Per-store fixed cost dominates JVM gates at drain volume
    # (measured: stream-stream join 5.0 s @ 8 parts vs 10.2 s @ 32).
    assert state_partitions(_FakeSpark(32)) == 8
    # Floor of 1: one store per JVM-state query on a 4-core seat (the
    # four-query app's median state commit per batch: 495 ms at 4
    # partitions, 76 ms at 1).
    assert state_partitions(_FakeSpark(4)) == 1


def test_concurrent_queries_divide_cores():
    # A 4-sink topology's queries each own cores/4.
    assert (
        state_partitions(_FakeSpark(32), python_state=True, concurrent=4)
        == 8
    )
    assert (
        state_partitions(_FakeSpark(32), python_state=True, concurrent=3)
        == 10
    )


@pytest.mark.parametrize(
    "cores, concurrent, jvm, python",
    [
        (4, 4, 1, 1),  # run_pipeline, two models, on a 4-core seat
        (32, 4, 2, 8),  # run_pipeline, two models, on 32 cores
        (32, 3, 2, 10),  # run_pipeline_router on 32 cores
    ],
)
def test_app_topologies(cores, concurrent, jvm, python):
    spark = _FakeSpark(cores)
    assert state_partitions(spark, concurrent=concurrent) == jvm
    assert (
        state_partitions(spark, python_state=True, concurrent=concurrent)
        == python
    )


def test_env_override_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRAIN_STATE_PARTITIONS", "200")
    assert state_partitions(_FakeSpark(32)) == 200
    assert state_partitions(_FakeSpark(32), python_state=True) == 200


def test_scratch_base_env_override(monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_DIR", str(tmp_path))
    assert scratch._scratch_base() == str(tmp_path)


def test_scratch_base_prefers_tmpfs_or_default(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_SCRATCH_DIR", raising=False)
    base = scratch._scratch_base()
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        assert base == "/dev/shm"
    else:
        assert base is None
