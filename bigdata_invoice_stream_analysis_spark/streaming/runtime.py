"""Streaming runtime rules shared by the deployed app (streaming/app.py)
and the drain gates (plans/): the state-partition count of a stateful
query, its application to one ``writeStream.start()``, the checkpoint
file manager of a local checkpoint root, the RocksDB state-store scope,
and the checked wait for a set of queries.

Stateful operators create one state-store instance per shuffle
partition per micro-batch, and the count is fixed at the query's first
checkpoint (AQE cannot coalesce it), so it is decided per query rather
than inherited from the session's batch default.

Every micro-batch writes a handful of checkpoint files per query (the
offset WAL, the commit log, the file-source log, state-store deltas,
sink metadata), each as a temp file renamed into place. Spark's default
manager renames through Hadoop's FileContext, which on the local
filesystem asks for the target's link status, and without the native
libhadoop that forks a ``readlink`` process per rename (~4 ms each on
a 4-core Xeon VM). Queries whose checkpoint root resolves, through
Hadoop, to the local filesystem therefore start with the FileSystem-API
manager: on the local filesystem both managers end in the same
check-then-rename(2) through RawLocalFileSystem, and Hadoop's ``.crc``
files and Spark's state-file checksums are written and verified as
before. HDFS and object-store roots keep Spark's default manager,
whose FileContext rename is the atomic one there.
"""

from __future__ import annotations

import os
import time
from collections.abc import Iterable
from contextlib import contextmanager

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
CHECKPOINT_FILE_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
FILE_SYSTEM_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)
SOURCE_INIT_WAIT_S = 30.0


def state_partitions(
    spark: SparkSession, python_state: bool = False, concurrent: int = 1
) -> int:
    """State partitions for one stateful query among ``concurrent``
    queries of a topology ("fewer, larger partitions" applied to
    streaming state).

    Each query owns ``min(32, cores) // concurrent`` cores. Python
    keyed state (applyInPandasWithState / transformWithState) is bound
    by per-group Python work, which parallelizes across workers, so it
    gets the owned cores (on 32 cores, a custom-state drain read 6.9 s
    at 32 partitions vs 12.5 s at 8). JVM state is tiny per partition
    at drain volume and the per-store fixed cost (load + commit +
    checkpoint files) dominates, so it gets a quarter of them, floor 1
    (on 32 cores, a stream-stream join drained in 5.0 s at 8 partitions
    vs 10.2 s at 32; on 4 cores, the four-query app's median state
    commit per micro-batch fell from 495 to 76 ms going from 4
    partitions to 1).

    SPARK_GRAFT_DRAIN_STATE_PARTITIONS overrides the rule: on a cluster
    the right count derives from state volume (e.g. 1-4 GB of RocksDB
    state per partition), which the local core count cannot see."""
    env = os.environ.get("SPARK_GRAFT_DRAIN_STATE_PARTITIONS")
    if env:
        return max(1, int(env))
    owned = max(
        1, min(32, spark.sparkContext.defaultParallelism) // max(1, concurrent)
    )
    if python_state:
        return owned
    return max(1, owned // 4)


@contextmanager
def _session_conf(spark: SparkSession, key: str, value: str):
    """Run the enclosed block with session conf ``key`` set to
    ``value``, restoring the caller's value — or unsetting it —
    afterwards."""
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def shuffle_partitions(spark: SparkSession, n: int):
    """Run the enclosed block with ``spark.sql.shuffle.partitions`` set
    to ``n``, restoring the caller's value afterwards. Wrapping a
    ``writeStream.start()`` is enough: the query clones the session at
    start, so the count sticks to the query (and is recorded in its
    offset log, which wins on restart) while the caller's session is
    left untouched."""
    return _session_conf(spark, SHUFFLE_PARTITIONS, str(n))


def checkpoint_scheme(spark: SparkSession, root: str) -> str:
    """The scheme of the filesystem Hadoop resolves ``root`` to under
    the session's Hadoop conf. A path without a scheme resolves against
    ``fs.defaultFS``, so the string alone cannot tell."""
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    return spark._jvm.org.apache.hadoop.fs.Path(root).getFileSystem(conf).getScheme()


@contextmanager
def local_checkpoints(spark: SparkSession, root: str):
    """Run the enclosed block with the FileSystem-API checkpoint file
    manager when ``root`` is on the local filesystem (module docstring),
    restoring the caller's value afterwards; any other root leaves the
    session as it is.

    Like shuffle_partitions, wrapping a ``writeStream.start()`` is
    enough for what the query's cloned session builds: its offset and
    commit logs, its sink log and its state stores. Its sources,
    though, are created by the query's own thread after ``start()``
    returns, from the session the DataFrame was read with — this one.
    So on leaving the block the conf stays set until every query
    started in it has left the INITIALIZING state (its sources exist),
    for at most SOURCE_INIT_WAIT_S; a source created later keeps
    Spark's default manager, which reads and writes the same files."""
    if checkpoint_scheme(spark, root) != "file":
        yield
        return
    before = {q.id for q in spark.streams.active}
    with _session_conf(spark, CHECKPOINT_FILE_MANAGER, FILE_SYSTEM_CHECKPOINT_MANAGER):
        yield
        deadline = time.monotonic() + SOURCE_INIT_WAIT_S
        for q in spark.streams.active:
            if q.id in before:
                continue
            state = q._jsq.streamingQuery().state()
            while (
                state.get().toString() == "INITIALIZING"
                and time.monotonic() < deadline
            ):
                time.sleep(0.002)


def rocksdb_provider(spark: SparkSession):
    """Run the enclosed block with the RocksDB state-store provider
    (what the state-v2 API requires), restoring the prior providerClass
    — or unsetting it — afterwards. ONE body shared by the four
    state-v2 gates, the scaling probe, and the TTL tests, so a restore
    fix lands everywhere at once."""
    return _session_conf(
        spark,
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )


def await_all(queries: Iterable[StreamingQuery], timeout: float) -> None:
    """Wait for every query of a set to terminate, all within ONE
    deadline of ``timeout`` seconds. Raises TimeoutError if a query is
    still active at the deadline, and re-raises a query's
    ``exception()`` if one failed. Every query still active is stopped
    on the way out, whatever happened, so a failed or timed-out set
    leaves no stream running in the session."""
    queries = list(queries)
    deadline = time.monotonic() + timeout
    try:
        for q in queries:
            if not q.awaitTermination(max(0.0, deadline - time.monotonic())):
                raise TimeoutError(
                    f"streaming query {q.name or q.id} still active after {timeout}s"
                )
            err = q.exception()
            if err is not None:
                raise err
    finally:
        for q in queries:
            if q.isActive:
                q.stop()
