"""Global top-k without an unbounded single-partition window.

The anti-pattern this module replaces::

    df.withColumn("rk", row_number().over(Window.orderBy(...))).where(rk <= k)

plans a WindowExec with an empty partition spec whose input is the
ENTIRE relation — Spark funnels every row through one task ("No
Partition Defined for Window operation" warning). At 100 TB that task
is the job.

``global_topk`` makes the scale-safe plan explicit instead of relying
on the optimizer's LimitPushDownThroughWindow rewrite:

1. ``orderBy(...).limit(k)`` plans ``TakeOrderedAndProject`` — each
   input partition keeps a local k-row heap and only k rows per
   partition ever move (map-side partial top-k, the same shape as a
   partial aggregation).
2. The rank stamp needs no window at all: the limit's output is a
   single ordered partition (partition index 0) by construction, so
   ``monotonically_increasing_id()`` — partition_index << 33 | offset —
   enumerates exactly 0..k-1 in row order. A ``sortWithinPartitions``
   guard pins the in-partition order; Catalyst's EliminateSorts drops
   it when the child is already ordered (the normal case).

No WindowExec anywhere in the plan — a plan test asserts this for
every ranked query in the registry.

The ordering must be total (include a unique tiebreak column) so the
stamped ranks are deterministic and oracle-reproducible.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def global_topk(
    df: DataFrame,
    order_cols: list[Column],
    k: int,
    rk_name: str | None = "rk",
) -> DataFrame:
    """Top-``k`` rows of ``df`` under a total order, with an optional
    1-based rank column stamped on the bounded result.

    ``order_cols`` must define a total order (tie-break on a key
    column) for deterministic output.
    """
    top = df.orderBy(*order_cols).limit(k)
    if rk_name is None:
        return top
    return top.sortWithinPartitions(*order_cols).withColumn(
        rk_name, (F.monotonically_increasing_id() + 1).cast("int")
    )


def global_rank(
    df: DataFrame,
    order_cols: list[Column | str],
    rk_name: str = "rn",
) -> DataFrame:
    """Stamp a 1-based global row number over a TOTAL order on every
    row of ``df`` — the unbounded-rank sibling of :func:`global_topk`,
    and the replacement for ``row_number().over(Window.orderBy(...))``
    when the result is not k-bounded (which would funnel the whole
    relation through one WindowExec task).

    The distributed zipWithIndex shape:

    1. ``orderBy`` — a range-exchange global sort; output partitions
       are range-ordered, rows sorted within each.
    2. The sorted frame is lazily ``localCheckpoint``-ed so the two
       jobs below see the SAME materialized partitioning (no replay
       divergence under AQE) and the sort runs once, not twice.
    3. One tiny job collects per-partition (row count, first
       ``monotonically_increasing_id``) — |partitions| rows.
    4. Cumulative offsets come back as a broadcast join on
       ``spark_partition_id()``; the rank is pure arithmetic:
       ``offset[pid] + (mid - first_mid[pid]) + 1`` (mid is
       consecutive within a task by construction).

    No WindowExec, no single-task stage; every stage is as parallel as
    the sort itself. ``order_cols`` must define a total order so the
    stamped ranks are deterministic and oracle-reproducible.
    """
    spark = df.sparkSession
    tagged = (
        df.orderBy(*order_cols)
        .select(
            F.spark_partition_id().alias("__pid"),
            F.monotonically_increasing_id().alias("__mid"),
            "*",
        )
        .localCheckpoint(eager=False)
    )
    per_part = sorted(
        tagged.groupBy("__pid")
        .agg(F.count("*").alias("n"), F.min("__mid").alias("mid0"))
        .collect(),
        key=lambda r: r["__pid"],
    )
    offsets, acc = [], 0
    for r in per_part:
        offsets.append((r["__pid"], acc, r["mid0"]))
        acc += r["n"]
    off_df = spark.createDataFrame(offsets, "__pid int, __off long, __mid0 long")
    out_cols = [c for c in df.columns]
    return (
        tagged.join(F.broadcast(off_df), "__pid")
        .withColumn(
            rk_name, F.col("__off") + F.col("__mid") - F.col("__mid0") + F.lit(1)
        )
        .select(rk_name, *out_cols)
    )
