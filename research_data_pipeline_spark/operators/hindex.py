"""h-index as a declarative window+aggregate plan.

Reference computes it with a per-group Python binary search
(/root/reference/dags/scripts/augmentations.py:125-148) driven from an
O(groups × facts) driver loop (final_tables.py:143-158). The Spark-first
formulation is a single shuffle: rank each metric value descending within
the group, then h = max(rank where metric ≥ rank).

Scales to arbitrarily many groups; the window sort is per-group (no global
sort), and Catalyst fuses the follow-up aggregation into the same exchange.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def hindex_ranked(
    df: DataFrame,
    group_cols: list[str],
    metric: Column,
    tiebreak: list[Column] | None = None,
) -> DataFrame:
    """``df`` plus ``_rn``, each row's position within its group by
    ``metric`` descending — the window :func:`hindex_col` aggregates.

    ``tiebreak`` makes row_number deterministic; the h-index value itself
    is tie-invariant (metric is sorted descending), determinism just keeps
    retries/plans stable.
    """
    order = [metric.desc()] + [c.asc() for c in (tiebreak or [])]
    w = W.partitionBy(*group_cols).orderBy(*order)
    return df.withColumn("_rn", F.row_number().over(w))


def hindex_col(metric: Column) -> Column:
    """The h-index aggregate over :func:`hindex_ranked` rows: the largest
    ``_rn`` whose metric is still ≥ ``_rn`` (0 when none is). Other
    aggregates grouped by the same columns share its exchange."""
    return F.coalesce(
        F.max(F.when(metric >= F.col("_rn"), F.col("_rn"))), F.lit(0)
    ).cast("bigint")


def hindex(
    df: DataFrame,
    group_cols: list[str],
    metric: Column,
    tiebreak: list[Column] | None = None,
    out_col: str = "hindex",
) -> DataFrame:
    """Per-group h-index of ``metric`` (h = max h s.t. h rows have metric ≥ h)."""
    return hindex_ranked(df, group_cols, metric, tiebreak).groupBy(*group_cols).agg(
        hindex_col(metric).alias(out_col)
    )
