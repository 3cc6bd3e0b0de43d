"""Deterministic lifecycle management for ``localCheckpoint`` storage.

``DataFrame.localCheckpoint`` persists the materialized partitions
under the covers, but the storage is owned by the *internal* RDD —
``DataFrame.unpersist()`` goes through the SQL cache manager and does
NOT free it (measured: the persistent-RDD count stays put). The blocks
are released only when the JVM garbage-collects the last reference and
the ContextCleaner notices — which, in a long single-JVM sweep that
checkpoints per entry (stress.py, bench.py) or per iteration
(connected components) or per micro-batch (stream ingest), is far too
late: the sf10 components probe OOMed an 8 GiB heap on storage pinned
by checkpoints of *earlier, already-finished* catalog entries.

Three tools close the gap:

* :func:`stage_boundary` — the one stage-boundary primitive for the
  workflow plans: an eager ``localCheckpoint`` at a point a frame is
  read more than once, so every later reference reads the stored
  blocks instead of planning the whole upstream subtree again.
  ``.cache()`` is not a boundary: in the workflow plans Spark
  substituted the cached relation at one reference of each cached
  frame and planned the subtree again at the others. Callers that own
  a stage wrap it in :func:`released_on_exit`, which frees the
  boundaries' storage when the stage ends.
* :func:`tracked_local_checkpoint` — checkpoint a frame and return
  the ids of the persistent RDDs the call created (snapshot-diff of
  ``SparkContext.getPersistentRDDs``), so the caller can free them
  deterministically with :func:`unpersist_ids` the moment the frame
  is superseded. Defaults to ``DISK_ONLY`` storage: checkpoint blocks
  have no business competing with shuffles for heap — local-disk read
  latency is noise next to the joins these frames feed, and the heap
  stays whole. Snapshot-diff attribution assumes no concurrent thread
  is persisting RDDs in the same SparkContext between the two
  snapshots (true for every driver loop in this package; documented
  here because a multi-threaded driver could mis-attribute).
* :func:`unpersist_all_rdds` — free EVERY persistent RDD in the
  context. Only for sequential sweep harnesses at entry boundaries
  (nothing crosses entries by design); never call it from library
  code that might run concurrently with other jobs.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel


def _persistent_ids(spark: SparkSession) -> frozenset[int]:
    return frozenset(spark.sparkContext._jsc.getPersistentRDDs().keys())


def tracked_local_checkpoint(
    df: DataFrame,
    storage_level: StorageLevel = StorageLevel.DISK_ONLY,
) -> tuple[DataFrame, frozenset[int]]:
    """Eagerly localCheckpoint ``df`` and return ``(checkpointed,
    created_rdd_ids)``; pass the ids to :func:`unpersist_ids` once the
    frame is no longer needed. After that the frame is unusable
    (checkpoints truncate lineage — the blocks are the only copy)."""
    spark = df.sparkSession
    before = _persistent_ids(spark)
    out = df.localCheckpoint(eager=True, storageLevel=storage_level)
    return out, _persistent_ids(spark) - before


def stage_boundary(df: DataFrame) -> DataFrame:
    """Materialize ``df`` now and return a frame whose plan is a scan
    of the stored blocks: an eager ``localCheckpoint`` that truncates
    lineage. Place it where a frame is referenced more than once (a
    self-join, an aggregate joined back, a union of filtered copies).
    The storage stays until the JVM collects the frame or the owning
    scope frees it (:func:`released_on_exit`); the frame is unusable
    after that."""
    return df.localCheckpoint(eager=True)


@contextmanager
def released_on_exit(spark: SparkSession) -> Iterator[None]:
    """Free every persistent RDD created inside the block when it
    exits, whether it returns or raises (the same snapshot diff as
    :func:`tracked_local_checkpoint`). Frames checkpointed inside the
    block must not be used after it."""
    before = _persistent_ids(spark)
    try:
        yield
    finally:
        unpersist_ids(spark, _persistent_ids(spark) - before)


def unpersist_ids(spark: SparkSession, ids: frozenset[int]) -> None:
    """Free the persistent RDDs named by ``ids`` (non-blocking; ids
    already gone are skipped)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in ids:
        jrdd = jmap.get(rid)
        if jrdd is not None:
            jrdd.unpersist(False)


def unpersist_all_rdds(spark: SparkSession, blocking: bool = False) -> None:
    """Free every persistent RDD in the context — the entry-boundary
    sweep for sequential harnesses (see module docstring). Combine
    with ``spark.catalog.clearCache()`` (cached plans) for a full
    storage reset between independent catalog entries."""
    for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        jrdd.unpersist(blocking)
