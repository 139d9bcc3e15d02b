"""Lineage truncation that honors a configured reliable checkpoint dir.

The engine cuts lineage at well-chosen points (per-round CC labels, the
corpus-funnel flag table, band signatures) so driver-side plan analysis
stays constant-cost.  ``localCheckpoint`` is the cheap way to do that,
but its blocks live in executor storage only: on a real cluster, losing
an executor mid-query makes the truncated lineage unrecoverable.  This
helper keeps ``localCheckpoint`` as the local-mode default and switches
to a *reliable* ``checkpoint()`` whenever the session has a checkpoint
directory configured (``SparkContext.setCheckpointDir`` or the
``spark.checkpoint.dir`` conf, which SparkContext applies at startup) —
one knob flips every cut site to fault-tolerant storage for cluster
runs, with zero behavior change when the knob is unset.

The one exception is the per-batch ``localCheckpoint`` inside the
streaming ``foreachBatch`` loops (``streaming/ops.py``): they stay local
under any setting, because a batch whose blocks are lost replays from the
stream's own checkpoint, and a reliable copy per batch would only add a
write.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def cut_lineage(df: DataFrame, eager: bool = False) -> DataFrame:
    """Truncate ``df``'s lineage: reliable ``checkpoint`` when the session
    has a checkpoint dir configured, ``localCheckpoint`` otherwise.

    ``eager`` semantics match the underlying methods: ``True``
    materializes now, ``False`` materializes with the first action.
    """
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
