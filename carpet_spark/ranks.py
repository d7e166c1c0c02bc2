"""Partition-parallel global ranks, exact percentiles and ranked prefix
sums: one range-partitioned prefix mechanism (optimization guide §2/§5).

A ``Window.orderBy(...)`` row_number, Spark's exact ``percentile``
aggregate and a ``Window.partitionBy()`` cumulative sum share the same
scale-killer: every row of the (group's) data funnels through ONE task —
the window's single partition, or the final merge of the percentile
aggregate's value buffer.  Fine for bounded audit extracts; wrong as a
recurring 100 TB pattern.  All three are built here on the classic
two-phase range-partitioned prefix:

1. ``range_pinned``: ``repartitionByRange`` on (group, order) — the same
   sampled range exchange a global sort pays; equal keys land in one
   partition and partition ids ascend along the key order — with the
   partition id stored as ``_pid`` and the layout ``localCheckpoint``-ed;
2. ``range_offsets``: a per-(group, ``_pid``) aggregate — |partitions|
   rows per group — prefix-summed over ``_pid`` into ``_off`` (the
   earlier partitions' share) and summed into ``_n`` (the group total);
3. a within-partition window (local ``row_number`` or running sum) plus
   the broadcast ``_off`` = the exact global value, computed
   |partitions|-wide.

Pin contract: the offsets and the within-partition pass are TWO
consumers of the range layout, and the range bounds come from a
nondeterministic SAMPLE of the data.  Two reads of an un-pinned range
exchange can disagree on every row's partition (AQE coalescing each
reader differently, or exchange reuse not firing), which silently breaks
the composed prefix (3,016 of 6,000 sampled ranks wrong at sf0.1).  The
eager ``localCheckpoint`` materializes ONE layout, with ``_pid`` stored
as data, so both consumers read the identical partitioning by
construction; its storage is MEMORY_AND_DISK and a lost block raises
instead of silently recomputing with fresh bounds.
"""

from __future__ import annotations

from functools import reduce
from operator import and_

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _null_safe_join(
    left: DataFrame, right: DataFrame, keys: list[str], how: str = "inner"
) -> DataFrame:
    """Equi-join that MATCHES NULL keys (a NULL group is a real group to
    every aggregate here; a plain equi-join would silently drop it — the
    nulls-regime failure this helper exists for).  The right side's key
    columns are renamed away and dropped after the join, so the output
    carries the left side's keys exactly once."""
    ren = right
    for k in keys:
        ren = ren.withColumnRenamed(k, f"_r_{k}")
    cond = reduce(
        and_, [left[k].eqNullSafe(ren[f"_r_{k}"]) for k in keys]
    )
    out = left.join(ren, cond, how)
    return out.drop(*[f"_r_{k}" for k in keys])


def range_pinned(df: DataFrame, key: list[Column]) -> DataFrame:
    """``df`` range-partitioned on ``key`` with the partition id stored as
    ``_pid``, materialized once (see the pin contract above).  Partition
    count is explicit and scale-adaptive — the max of the core count and
    the configured shuffle width — so AQE cannot re-group the layout."""
    sess = df.sparkSession
    try:
        width = int(sess.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        width = 0
    n = max(sess.sparkContext.defaultParallelism, width)
    return (
        df.repartitionByRange(n, *key)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()
    )


def range_offsets(
    pinned: DataFrame, group_cols: list[str], part_agg: Column
) -> DataFrame:
    """One row per (group, ``_pid``) of ``pinned``: ``_off`` = Σ
    ``part_agg`` over the group's earlier partitions (0 for the first),
    ``_n`` = Σ over all of them.  Every group of ``pinned`` appears, also
    one whose ``part_agg`` is 0 or NULL in every partition."""
    g = Window.partitionBy(*group_cols)
    before = g.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    return (
        pinned.groupBy(*group_cols, "_pid")
        .agg(part_agg.alias("_c"))
        .select(
            *group_cols,
            "_pid",
            F.coalesce(F.sum("_c").over(before), F.lit(0)).alias("_off"),
            F.sum("_c").over(g).alias("_n"),
        )
    )


def ranked_by_range(
    df: DataFrame, order_cols: list[str], group_cols: list[str] | None = None
) -> DataFrame:
    """Attach ``_rank`` — the 1-based rank of each row within its group
    under ``order_cols`` ascending — computed partition-parallel (no
    single-task sort).  Ties take arbitrary order WITHIN equal keys (same
    as any row_number over a non-total order): callers must either pass a
    total order (unique keys) or be indifferent to tie order."""
    group_cols = list(group_cols or [])
    pinned = range_pinned(df, [F.col(c) for c in group_cols + order_cols])
    offs = range_offsets(pinned, group_cols, F.count(F.lit(1))).drop("_n")
    w_lr = Window.partitionBy(*group_cols, "_pid").orderBy(*order_cols)
    ranked = pinned.withColumn("_lr", F.row_number().over(w_lr))
    return (
        _null_safe_join(ranked, F.broadcast(offs), group_cols + ["_pid"])
        .withColumn("_rank", (F.col("_off") + F.col("_lr")).cast("long"))
        .drop("_pid", "_lr", "_off")
    )


def _bitwise_eq(a: Column, b: Column) -> Column:
    """java.lang.Double.equals semantics in SQL: the string cast
    distinguishes -0.0 from 0.0 and unifies NaN with NaN — exactly the
    boxed-Double equality Spark's percentile aggregate applies to its
    sorted neighbor keys."""
    return a.cast("string") == b.cast("string")


def group_percentiles_exact(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    percentiles: dict[str, float],
) -> DataFrame:
    """EXACT percentiles per group — one output row per group (every group
    of ``df`` appears; all-NULL groups yield NULL), one column per entry of
    ``percentiles`` — computed partition-parallel and reproducing Spark's
    ``percentile`` aggregate BIT-FOR-BIT (form probed empirically against
    the aggregate, scripts/percentile_form_probe.py, and pinned in
    tests/test_r12_optimizations.py):

        pos = p * (n - 1)                 # n = count of non-NULL values
        lower = floor(pos); higher = ceil(pos)
        higher == lower                  -> value at rank lower+1
        neighbors bitwise-equal          -> that value
        else  (higher - pos) * a + (pos - lower) * b

    NaN values are buffered and sort greatest on both implementations
    (SQLOrderingUtil.compareDoubles == the SQL sort order); NULLs are
    excluded from the buffer and the count, exactly like the aggregate.

    The input is read once, through the pin: NULL values stay in the
    pinned layout but count in neither ``_off`` nor the local rank, so
    every group, all-NULL ones included, reaches the final aggregate
    with its ``_n`` from the offsets frame."""
    group_cols = list(group_cols)
    x = F.col("_x")
    pinned = range_pinned(
        df.select(*group_cols, F.col(value_col).cast("double").alias("_x")),
        [F.col(c) for c in group_cols] + [x],
    )
    offs = range_offsets(pinned, group_cols, F.count(x))
    w_lr = Window.partitionBy(*group_cols, "_pid").orderBy(x.asc_nulls_last())
    ranked = _null_safe_join(
        pinned.withColumn("_lr", F.when(x.isNotNull(), F.row_number().over(w_lr))),
        F.broadcast(offs),
        group_cols + ["_pid"],
    ).withColumn("_rank", F.col("_off") + F.col("_lr"))

    def pos_expr(p: float) -> Column:
        return F.lit(float(p)) * (F.col("_n") - F.lit(1)).cast("double")

    # one aggregate over every pinned row: all-NULL groups (and an empty
    # global input, whose global aggregate is still one row) find no
    # neighbors, hence NULL percentiles — the aggregate's contract
    aggs = [F.max("_n").alias("_n")]
    for name, p in percentiles.items():
        pos = pos_expr(p)
        for side, idx in (("lo", F.floor(pos)), ("hi", F.ceil(pos))):
            aggs.append(
                F.max(F.when(F.col("_rank") == idx + F.lit(1), x)).alias(
                    f"_{side}_{name}"
                )
            )
    got = ranked.groupBy(*group_cols).agg(*aggs)

    outcols = list(group_cols)
    for name, p in percentiles.items():
        pos = pos_expr(p)
        lo, hi = F.floor(pos), F.ceil(pos)
        a, b = F.col(f"_lo_{name}"), F.col(f"_hi_{name}")
        outcols.append(
            F.when(lo == hi, a)
            .when(_bitwise_eq(a, b), a)
            .otherwise(
                (hi.cast("double") - pos) * a + (pos - lo.cast("double")) * b
            )
            .alias(name)
        )
    return got.select(*outcols)
