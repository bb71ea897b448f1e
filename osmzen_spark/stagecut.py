"""Local (in-memory) stage cuts sized by rows.

A stage cut materializes a frame and truncates its plan, so the
consumers that fan out from it read blocks instead of recomputing the
subtree. A cut also fixes the partition count of everything narrow
downstream of it, and on a small input that count is the cost: each
partition is one task, and each task of a Python stage (mapInArrow,
mapInPandas, applyInPandas) starts a Python worker task whose fixed
setup (pyspark's per-task ``setup_spark_files``, which calls
``importlib.invalidate_caches()`` and re-reads ``pyspark.zip`` once per
zipimporter entry) costs 0.13-0.16 s of CPU on Python 3.11 whether the
partition holds rows or not.

``local_cut`` therefore counts the rows in the same job that
materializes the checkpoint and coalesces to one partition per Arrow
batch (``spark.sql.execution.arrow.maxRecordsPerBatch``): a Python task
never holds less than one batch unless the whole frame is smaller than
one. A coalesce never raises the partition count, so a large input
keeps the partitioning it had.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"


def arrow_batches(spark, rows: int) -> int:
    """Number of Arrow batches ``rows`` rows fill: at least 1."""
    batch = int(spark.conf.get(_BATCH_CONF))
    return max(1, -(-rows // batch))


def _checkpoint_rdd(df: DataFrame):
    # the checkpointed blocks belong to the RDD of the LogicalRDD node
    # the localCheckpoint produced; DataFrame.rdd derives a fresh
    # python-row RDD that holds none of them
    return df._jdf.queryExecution().analyzed().rdd()


def local_cut(df: DataFrame) -> tuple[DataFrame, DataFrame, int]:
    """Checkpoint ``df`` in executor memory and size it by rows.

    One job computes, persists and counts the partitions. Returns
    ``(view, handle, rows)``: ``view`` is the checkpoint coalesced to
    ``arrow_batches(rows)`` partitions (the checkpoint itself when it
    already has no more); ``handle`` is the checkpoint, the frame
    ``free_local_checkpoint`` must be given, because the coalesce hides
    the checkpointed RDD from it."""
    handle = df.localCheckpoint(eager=False)
    rdd = _checkpoint_rdd(handle)
    rows = int(rdd.count())
    n = arrow_batches(df.sparkSession, rows)
    view = handle.coalesce(n) if n < rdd.getNumPartitions() else handle
    return view, handle, rows


def free_local_checkpoint(handle: DataFrame) -> None:
    """Unpersist the blocks of a ``localCheckpoint``'ed frame.

    ``handle.rdd.unpersist()`` is a no-op here (see ``_checkpoint_rdd``).
    Best-effort: a failure leaves the blocks until the session ends."""
    try:
        _checkpoint_rdd(handle).unpersist(False)
    except Exception:
        pass
