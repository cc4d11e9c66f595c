"""One owner for the intermediate artifacts of a run.

Iterative and composed operators (PageRank, connected components, the
curation pipeline) persist frames, cut lineage and land reuse tables.  A
``RunScope`` owns all of them: the caller opens it around the work whose
results it consumes, the operators take it as ``scope=``, and ``close()``
releases everything on exit, also when the body raises.

Where artifacts go follows from ``work_dir`` alone.  Without one, frames
are cached in executor storage and lineage is cut with ``localCheckpoint``
(right for local runs and cluster-cache-sized inputs).  With one
(HDFS/S3 on a cluster), reuse and lineage cuts are parquet round-trips
under a run-unique ``run-<uuid>`` subdirectory: durable against executor
loss, splittable, and deleted as a whole on close.  Nothing touches the
context-global ``setCheckpointDir``, so concurrent scopes on one session
never share state.

Results must be consumed (collected or written out) before the scope
closes: a lazy frame over a released cache recomputes, one over a released
local checkpoint or a deleted run directory fails.

``run_branches`` is the run's one way to overlap independent driver-side
work: branches that each submit blocking Spark actions run in their own
driver threads, so their jobs share the cores instead of queueing behind
each other's driver round-trips.
"""

from __future__ import annotations

import itertools
import threading
import uuid
from concurrent.futures import ThreadPoolExecutor, as_completed
from typing import Any, Callable

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession


def run_branches(owner: str, branches: dict[str, Callable[[], Any]]) -> dict[str, Any]:
    """Run each named branch in its own driver thread, wait for all of
    them, and return their results by name.  A failure is re-raised only
    after every branch has ended, with a note naming ``owner`` and the
    branch; with several failures, the first to end is the one raised."""
    with ThreadPoolExecutor(max_workers=len(branches)) as pool:
        futures = {pool.submit(fn): name for name, fn in branches.items()}
        failed = [f for f in as_completed(futures) if f.exception() is not None]
    if failed:
        err = failed[0].exception()
        err.add_note(f"{owner} branch {futures[failed[0]]!r} failed")
        raise err
    return {name: f.result() for f, name in futures.items()}


def hadoop_path(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` of ``path`` under the session's Hadoop conf.
    Metadata calls on them (exists, delete) run on the driver and start no
    Spark job."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


class RunScope:
    """Owner of one run's caches, local checkpoints and landing tables."""

    def __init__(self, spark: SparkSession, work_dir: str | None = None):
        self.spark = spark
        self.run_dir = (
            f"{work_dir.rstrip('/')}/run-{uuid.uuid4().hex}" if work_dir else None
        )
        self.facts: dict[str, list[dict]] = {}
        self._releases: list = []
        self._seq = itertools.count()
        self._lock = threading.Lock()

    def __enter__(self) -> RunScope:
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def _track(self, release) -> None:
        with self._lock:
            self._releases.append(release)

    def persist(self, df: DataFrame) -> DataFrame:
        """Cache ``df`` until the scope closes."""
        df = df.persist()
        self._track(df.unpersist)
        return df

    def reuse(self, df: DataFrame, tag: str) -> DataFrame:
        """``df`` materialized once for several consumers: a parquet landing
        table under the run directory, or a cache without a work dir."""
        return self.persist(df) if self.run_dir is None else self._land(df, tag)

    def truncate(self, df: DataFrame, tag: str) -> DataFrame:
        """``df`` with its lineage cut: a parquet round-trip under the run
        directory, or an eager ``localCheckpoint`` without a work dir."""
        if self.run_dir is not None:
            return self._land(df, tag)
        df = df.localCheckpoint()
        # the checkpointed RDD backs the returned plan's LogicalRDD
        rdd = df._jdf.queryExecution().analyzed().rdd()
        self._track(lambda: rdd.unpersist(False))
        return df

    def note(self, op: str, **facts) -> None:
        """Record facts about one run of ``op`` (JSON-serializable values)."""
        with self._lock:
            self.facts.setdefault(op, []).append(facts)

    def _land(self, df: DataFrame, tag: str) -> DataFrame:
        path = f"{self.run_dir}/{tag}-{next(self._seq)}.parquet"
        df.write.mode("overwrite").parquet(path)
        self.note("landed", tag=tag, path=path)
        return self.spark.read.schema(df.schema).parquet(path)

    def close(self) -> None:
        with self._lock:
            releases, self._releases = self._releases, []
        for release in releases:
            try:
                release()
            except Py4JError:
                pass  # the session was stopped: its caches are gone already
        if self.run_dir is not None:
            fs, path = hadoop_path(self.spark, self.run_dir)
            fs.delete(path, True)
