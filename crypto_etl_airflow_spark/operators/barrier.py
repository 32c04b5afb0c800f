"""The engine's one lineage barrier.

A barrier is an eager checkpoint: it materializes a frame and cuts
its lineage, so a later action cannot lazily re-read a path the
caller is about to rewrite, and a loop or a chain of stages does not
re-inline its whole upstream plan into every consumer.

``checkpoint_dir=None`` (the default) takes the single-node zero-IO
``localCheckpoint``: its blocks live on executor storage and do not
survive an executor loss. A ``checkpoint_dir`` takes a RELIABLE
checkpoint written beneath that directory (typically the cluster's
shared filesystem), which does. Both cut lineage equally; they differ
only in fault posture and IO cost, never in values.

``DataFrame.unpersist`` cannot free a barrier's blocks: they belong to
the checkpointed RDD, not to the CacheManager. :func:`release` can.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def barrier(df: DataFrame, checkpoint_dir: str | None = None) -> DataFrame:
    """Materialize ``df`` eagerly and return it with truncated lineage."""
    if checkpoint_dir is not None:
        df.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def release(df: DataFrame) -> None:
    """Free the stored blocks of the checkpointed RDD behind a
    :func:`barrier` frame, without waiting for their removal. ``df``
    must be no longer read afterwards. A frame without a JVM plan
    (Spark Connect) is left as is."""
    jdf = getattr(df, "_jdf", None)
    if jdf is not None:
        jdf.queryExecution().analyzed().rdd().unpersist(False)


def counted_barrier(
    df: DataFrame, checkpoint_dir: str | None = None
) -> tuple[DataFrame, int]:
    """:func:`barrier`, plus ``df``'s row count from the same job: an
    :class:`Observation` on the top of the checkpointed plan, collected
    by the checkpoint's own job instead of a second ``count()``. On
    top, it counts exactly the rows the checkpoint holds, after every
    join or filter in ``df``."""
    obs = Observation()
    out = barrier(df.observe(obs, F.count(F.lit(1)).alias("n")), checkpoint_dir)
    return out, obs.get["n"]
