"""Ranking operators, including pandas-parity integer ranks.

The reference stores author ranks computed by pandas
``rank(ascending=0).astype(int)`` (/root/reference/dags/scripts/
final_tables.py:161-164): ties get the *average* rank, then truncation.
Spark's rank()/dense_rank() cannot reproduce that directly; combining
min-rank with a tie-count gives floor(min_rank + (ties-1)/2) exactly.

Scale design — two-phase global rank:

A naive ``rank().over(Window.orderBy(...))`` moves EVERY row into one
partition (WindowExec warns about it), which is a non-starter at fact
scale. Both ranks here instead:

1. aggregate to one row per distinct metric value (map-side combine,
   one small shuffle),
2. run the cumulative window over the *distinct values only* (tiny:
   bounded by cardinality of the metric, not row count),
3. hash-join the (value → rank) map back onto the input.

Rank depends only on the metric value, so this is exact, and the window
stage now touches |distinct values| rows instead of |rows|. Several
metrics of one table share a single pass (``pandas_int_ranks``): one
aggregation, one window and one join per metric.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


# Above this many distinct metric values the single-partition
# distinct-value window (step 2 of the module docstring) is itself a
# bottleneck — e.g. ranking a near-unique continuous metric degenerates
# to a global sort on one core. The range-partitioned path below takes
# over there; the window path stays for the common low-cardinality case
# (integer counts like total_pubs) where it is one job cheaper.
RANK_WINDOW_MAX_DISTINCT = 65_536


def _value_ranks(
    df: DataFrame,
    metrics: str | list[str],
    ascending: bool,
    max_window_distinct: int = RANK_WINDOW_MAX_DISTINCT,
    distinct_hint: int | None = None,
) -> DataFrame:
    """One row per (metric, distinct value) with its min rank and tie count.

    All ``metrics`` are ranked in one pass: each input row is stacked into
    one row per metric, ``_m`` (the metric's position) plus one column per
    metric, only metric ``_m``'s set. One aggregation then yields every
    value histogram, and one window partitioned by ``_m`` ranks them; the
    unset columns are constant within a partition, so ordering by all
    metrics orders by metric ``_m``. Metric ``i`` is counted over the rows
    whose earlier metrics are all non-NULL: ranking metric by metric with
    an inner join each drops exactly those rows before metric ``i``.

    Cardinality-guarded: estimates |distinct(metric)| with one cheap
    partial-aggregate pass; below the guard the cumulative window runs
    over the distinct values, one (small) partition per metric; above it
    the prefix sum is computed range-partitioned — local cumsum within
    each range, plus a |partitions × metrics|-sized offset map — so no
    single-partition window exists at any cardinality (same shape as
    ``scalable_prefix_sum``).
    """
    metrics = [metrics] if isinstance(metrics, str) else list(metrics)
    types = [df.schema[m].dataType for m in metrics]
    rows = []
    for i in range(len(metrics)):
        row = F.struct(
            F.lit(i).alias("_m"),
            *[
                (F.col(m) if j == i else F.lit(None).cast(t)).alias(m)
                for j, (m, t) in enumerate(zip(metrics, types))
            ],
        )
        earlier = [F.col(m).isNotNull() for m in metrics[:i]]
        if earlier:
            row = F.when(reduce(lambda a, b: a & b, earlier), row)
        rows.append(row)
    stacked = df.select(F.inline(F.filter(F.array(*rows), lambda r: r.isNotNull())))
    order = [F.col(m).asc() if ascending else F.col(m).desc() for m in metrics]
    hist = stacked.groupBy("_m", *metrics).agg(F.count(F.lit(1)).alias("_ties"))
    if distinct_hint is not None:
        n_distinct = distinct_hint
    else:
        n_distinct = max(df.agg(*[F.approx_count_distinct(m) for m in metrics]).first())
    if n_distinct <= max_window_distinct:
        # partitioned by metric only BY DESIGN: each partition is bounded
        # <= max_window_distinct by the cardinality guard above, which
        # also bounds the value map a caller broadcasts back to the rows
        w_before = W.partitionBy("_m").orderBy(*order).rowsBetween(
            W.unboundedPreceding, -1
        )
        return F.broadcast(hist.withColumn(
            "_min_rank", F.coalesce(F.sum("_ties").over(w_before), F.lit(0)) + 1
        ))
    sc = df.sparkSession.sparkContext
    n_parts = sc.defaultParallelism
    part = hist.repartitionByRange(n_parts, F.col("_m"), *order).withColumn(
        "_pid", F.spark_partition_id()
    )
    w_local = (
        W.partitionBy("_pid", "_m")
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    local = part.withColumn(
        "_before", F.coalesce(F.sum("_ties").over(w_local), F.lit(0))
    ).localCheckpoint()
    totals = {
        (r["_m"], r["_pid"]): r["_tot"]
        for r in local.groupBy("_m", "_pid").agg(F.sum("_ties").alias("_tot")).collect()
    }
    offsets, run = {}, {}
    for m, pid in sorted(totals):
        offsets[pid * len(metrics) + m] = run.get(m, 0)
        run[m] = run.get(m, 0) + (totals[(m, pid)] or 0)
    omap = F.create_map(
        *[lit for key, off in offsets.items() for lit in (F.lit(key), F.lit(off))]
    )
    key = F.col("_pid") * len(metrics) + F.col("_m")
    return local.withColumn(
        "_min_rank",
        F.col("_before") + F.coalesce(omap[key], F.lit(0)) + 1,
    ).drop("_pid", "_before")


def _join_ranks(
    df: DataFrame,
    ranked: dict[str, str],
    rank: Column,
    ascending: bool,
    distinct_hint: int | None,
) -> DataFrame:
    """Attach ``rank`` (over ``_min_rank``/``_ties``) of each metric as
    column ``ranked[metric]``, one inner join per metric. The value maps
    come from one ``_value_ranks`` pass; a metric's map rows carry NULL in
    every other metric's column, so an equi-join on that metric picks out
    exactly its own rows without a filter, and every join reuses the same
    exchanges."""
    metrics = list(ranked)
    values = _value_ranks(df, metrics, ascending, distinct_hint=distinct_hint).select(
        *metrics, rank.cast("bigint").alias("_rank")
    )
    for metric, out_col in ranked.items():
        df = df.join(values.select(metric, F.col("_rank").alias(out_col)), on=metric)
    return df


def pandas_int_ranks(
    df: DataFrame,
    ranked: dict[str, str],
    ascending: bool = False,
    distinct_hint: int | None = None,
) -> DataFrame:
    """pandas average-rank truncated to int, descending by default, of
    every metric in ``ranked`` (metric → output column), in one pass.

    avg rank of a tie group = min_rank + (ties-1)/2; int() truncates →
    floor((2·min_rank + ties − 1)/2).

    Same result as calling :func:`pandas_int_rank` once per metric in
    ``ranked`` order: a row with a NULL metric drops out, and the metrics
    after it are ranked without that row.

    ``distinct_hint``: callers that KNOW every metric is dictionary-sized
    (small-integer counts like total_pubs) pass a bound to skip the
    cardinality-estimate job the guard otherwise runs.
    """
    rank = F.floor((2 * F.col("_min_rank") + F.col("_ties") - 1) / 2.0)
    return _join_ranks(df, ranked, rank, ascending, distinct_hint)


def pandas_int_rank(
    df: DataFrame,
    metric: str,
    out_col: str = "rank",
    ascending: bool = False,
    distinct_hint: int | None = None,
) -> DataFrame:
    """:func:`pandas_int_ranks` of one metric."""
    return pandas_int_ranks(df, {metric: out_col}, ascending, distinct_hint)


def spark_rank(
    df: DataFrame,
    metric: str,
    out_col: str = "rank",
    ascending: bool = False,
    distinct_hint: int | None = None,
) -> DataFrame:
    """Plain SQL rank() (ties share min rank) — the idiomatic rank, same
    two-phase plan. ``distinct_hint`` as in ``pandas_int_ranks``."""
    return _join_ranks(df, {metric: out_col}, F.col("_min_rank"), ascending, distinct_hint)


def scalable_prefix_sum(
    df: DataFrame, order_col: str, value_col: str, out: str = "running_total",
    n_parts: int | None = None, tiebreak: list[str] | None = None,
) -> DataFrame:
    """Exact global running total of ``value_col`` in ``order_col`` order,
    without a global single-partition window.

    Same scale shape as the two-phase ranks above: range-partition on the
    order column (global order across partitions, local order within),
    cumulative-sum inside each partition, then add each partition's
    starting offset — the per-partition totals are a |partitions|-sized
    driver list, not data. The single-partition stage a naive
    ``Window.orderBy`` would create never exists.

    Determinism: ``order_col`` must be UNIQUE per row (as doc_id is for
    d14/m05), or a ``tiebreak`` column list must make the combined order
    key unique — otherwise tie rows get an arbitrary relative order and
    intermediate running totals can differ between runs. (The FINAL
    prefix total after a tie group is order-invariant; the per-row values
    inside the group are not.)
    """
    n_parts = n_parts or df.sparkSession.sparkContext.defaultParallelism
    part = df.repartitionByRange(n_parts, F.col(order_col)).withColumn(
        "_pid", F.spark_partition_id()
    )
    w = (
        W.partitionBy("_pid")
        .orderBy(order_col, *(tiebreak or []))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    local = part.withColumn("_local", F.sum(value_col).over(w)).localCheckpoint()
    totals = {
        r["_pid"]: (r["_tot"], r["_cnt"])
        for r in local.groupBy("_pid").agg(
            F.sum(value_col).alias("_tot"),
            F.count(value_col).alias("_cnt"),  # non-NULL rows only
        ).collect()
    }
    offsets, priors, run, seen = {}, {}, 0, 0
    for pid in sorted(totals):
        offsets[pid] = run
        priors[pid] = seen  # non-NULL values in all EARLIER partitions
        tot, cnt = totals[pid]
        run += tot or 0
        seen += cnt
    if not offsets:
        # empty input: a zero-arg create_map() types as MAP<VOID,VOID> and
        # fails analysis on the int lookup — there is nothing to offset
        return local.withColumn(out, F.col("_local")).drop("_pid", "_local")
    omap = F.create_map(
        *[lit for pid, off in offsets.items() for lit in (F.lit(pid), F.lit(off))]
    )
    pmap = F.create_map(
        *[lit for pid, pr in priors.items() for lit in (F.lit(pid), F.lit(pr))]
    )
    # NULL semantics must match a GLOBAL window sum (the parity oracle and
    # the single-machine mental model): the running total carries through a
    # NULL-value row, and is NULL only while NO non-NULL value has occurred
    # yet globally. Without the prior-count fallback, a NULL row that lands
    # FIRST in a range partition saw a NULL _local and emitted NULL — an
    # output that changed with the partition count (found by the nulled-
    # corpus probe under local[8] vs local[4], round 11).
    off = F.coalesce(omap[F.col("_pid")], F.lit(0))
    return local.withColumn(
        out,
        F.when(F.col("_local").isNotNull(), F.col("_local") + off).otherwise(
            F.when(F.coalesce(pmap[F.col("_pid")], F.lit(0)) > 0, off)
        ),
    ).drop("_pid", "_local")
