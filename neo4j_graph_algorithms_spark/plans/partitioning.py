"""Distributed ranking without a single-reducer window.

`distributed_rank` assigns dense zero-based ranks with a *distributed
two-level scan*: per-bucket ranks inside range buckets (parallel
windows) plus a tiny per-bucket base table joined back broadcast —
never a single global window, so there is no one-reducer bottleneck at
10^12 rows. It backs id densification (`graph.densify_ids`) and MS-BFS
source numbering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def distributed_rank(
    df: DataFrame, col: str = "id", n_buckets: int | None = None
) -> DataFrame:
    """(col, _rank): zero-based global rank ordered by `col` over DISTINCT
    values, with no single-reducer window. Two-level scan:

    1. range-shuffle rows into ordered buckets (`repartitionByRange` —
       bucket i's values all precede bucket i+1's);
    2. within-bucket `row_number` (parallel across buckets);
    3. per-bucket counts -> exclusive bases (n_buckets rows, the only
       global window) broadcast-joined back.

    This is the IdMapping-scale replacement for `row_number() over
    (order by col)`: identical output, O(rows/bucket) per task.
    """
    spark = df.sparkSession
    n_buckets = n_buckets or spark.sparkContext.defaultParallelism * 4
    bucketed = (
        df.select(col)
        .repartitionByRange(n_buckets, F.col(col))
        .withColumn("_bkt", F.spark_partition_id())
    )
    w_in = Window.partitionBy("_bkt").orderBy(col)
    # localCheckpoint (not persist): the two consumers below read the
    # materialized RDD, and its blocks are released by the context
    # cleaner once the caller drops the result — a bare persist() here
    # leaked a cached frame per densify_ids/source-numbering call
    ranked = bucketed.withColumn("_r_in", F.row_number().over(w_in) - 1).localCheckpoint(
        eager=True
    )
    bases = (
        ranked.groupBy("_bkt")
        .agg(F.count("*").alias("_cnt"))
        .withColumn(
            "_base",
            F.coalesce(
                F.sum("_cnt").over(
                    Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("_bkt", "_base")
    )
    return (
        ranked.join(F.broadcast(bases), "_bkt")
        .select(F.col(col), (F.col("_r_in") + F.col("_base")).cast("long").alias("_rank"))
    )
