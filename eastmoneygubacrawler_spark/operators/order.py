"""Distributed global ordering (O1-O4 composite rank) without a single-
partition window.

``F.row_number().over(Window.orderBy(...))`` funnels every row through ONE
task — fine at fixture scale, a non-starter for a 10^10-row frontier.  The
standard two-phase construction keeps the same deterministic result:

1. range-partition rows by the order key (repartitionByRange — Spark samples
   the key distribution, so skew is bounded),
2. rank within each partition (cheap, local),
3. add the exclusive prefix-sum of partition sizes — computed with a P×P
   self-join over the (one-row-per-partition) size table, so the WHOLE plan
   is free of Exchange SinglePartition (a global window over the sizes,
   though tiny, would reintroduce the very pattern this module removes and
   trip the plan audit), then broadcast back via join on partition id.

Used for ``crawl_seq`` — the reference's implicit global insertion order
(Mongo _id order of core/crawler.py:818-827 under its sequential loop).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def global_row_number(
    df: DataFrame,
    order_cols: list,
    out_col: str = "seq",
    start: int = 1,
    n_partitions: int | None = None,
    checkpoint=None,
) -> DataFrame:
    """Deterministic global 1-based rank over ``order_cols``, distributed.

    ``order_cols`` entries may be column names (sorted asc_nulls_last) or
    ready sort Columns (e.g. ``F.col("x").desc()``).

    The range-partitioned rows are read twice (partition sizes, local ranks)
    and must agree, so they are materialized once: by ``checkpoint`` (a
    callable returning a lineage-truncated frame — the crawl round passes
    its engine.checkpoints.Checkpoints, which releases the blocks), else by a
    lazy local checkpoint the caller cannot release."""
    sort_cols = [
        F.col(c).asc_nulls_last() if isinstance(c, str) else c for c in order_cols
    ]
    n_partitions = n_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(n_partitions, *sort_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    ranged = checkpoint(ranged) if checkpoint else ranged.localCheckpoint(eager=False)
    # partition sizes → exclusive prefix sums via a P×P self-join (P = one
    # row per partition, so this is tiny) — no Exchange SinglePartition
    sizes = ranged.groupBy("_pid").agg(F.count("*").alias("_n"))
    a = sizes.select(F.col("_pid"))
    b = sizes.select(F.col("_pid").alias("_pid2"), F.col("_n").alias("_n2"))
    offsets = (
        a.join(F.broadcast(b), F.col("_pid2") < F.col("_pid"), "left")
        .groupBy("_pid")
        .agg(F.coalesce(F.sum("_n2"), F.lit(0)).alias("_offset"))
    )

    w_local = Window.partitionBy("_pid").orderBy(*sort_cols)
    out = (
        ranged.withColumn("_local_rn", F.row_number().over(w_local))
        .join(F.broadcast(offsets), on="_pid")
        .withColumn(
            out_col,
            (F.col("_local_rn") + F.col("_offset") + F.lit(start - 1)).cast("long"),
        )
        .drop("_pid", "_local_rn", "_offset")
    )
    return out
