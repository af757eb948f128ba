"""Released local checkpoints: the one persistence seam of a crawl round.

A frame read by more than one action is materialized once.  ``cache()`` is
the wrong tool for that inside a round: the cached frame keeps its whole
upstream plan inside an ``InMemoryRelation``, so every later action nests the
round so far, and Spark analyses, optimises and renders that growing plan as
text at every SQL execution start and every AQE re-plan.  A local checkpoint
cuts the lineage instead: later actions see a ``LogicalRDD`` leaf and plan
only their own stage.

``localCheckpoint(eager=False)`` still runs the upstream shuffle and
broadcast stages at the call under AQE; the final stage runs with the first
action that reads the frame.  Checkpoint blocks are not recomputable: a frame
must be released only after every frame built on it has been materialized
(see the persistence note in operators/dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


class Checkpoints:
    """Lineage-truncating checkpoints of one scope (a crawl round, one wave
    of it, or a purge): each call returns ``df.localCheckpoint(eager)`` and
    records its RDD; :meth:`release` drops every recorded block."""

    def __init__(self):
        self._rdds: list = []

    def __call__(self, df: DataFrame, eager: bool = False) -> DataFrame:
        out = df.localCheckpoint(eager=eager)
        self._rdds.append(out._jdf.queryExecution().analyzed().rdd())  # noqa: SLF001
        return out

    def release(self) -> None:
        for rdd in self._rdds:
            rdd.unpersist(False)
        self._rdds.clear()
