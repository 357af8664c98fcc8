"""The one release path for ``localCheckpoint`` blocks.

A ``localCheckpoint`` frame's blocks belong to the checkpointed RDD
under its ``LogicalRDD`` plan node, not to the plan cache, so
``DataFrame.unpersist()`` on it frees nothing: the blocks stay in the
block manager until the JVM collects the RDD. ``release`` frees them
now. Call it only once nothing lazy still reads the frame — a later
read of a released checkpoint fails with a missing-block error.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def release(*frames: DataFrame | None) -> None:
    """Free the checkpoint blocks of each frame; ``None`` entries are
    skipped. Each frame must be a ``localCheckpoint`` result itself
    (analyzed root a ``LogicalRDD``); a frame derived from one raises
    ``ValueError`` before anything is freed."""
    ids = []
    for df in frames:
        if df is None:
            continue
        plan = df._jdf.queryExecution().analyzed()
        if plan.nodeName() != "LogicalRDD":
            raise ValueError(f"not a checkpoint frame: analyzed root is {plan.nodeName()}")
        ids.append((df.sparkSession, plan.rdd().id()))
    for spark, rdd_id in ids:
        spark.sparkContext._jsc.sc().unpersistRDD(rdd_id, False)
