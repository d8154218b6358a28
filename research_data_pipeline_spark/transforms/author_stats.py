"""Author-statistics job — the vectorized rewrite of the reference's
single biggest pathology.

final_tables.py:125-170 computes per-author stats with a Python loop that
re-scans the whole authorship table per author (O(authors × authorship),
"NB! Slow run..." in the source). Here the same statistics are two
declarative aggregations on author_id:

- totals, medians and the h-index: one window (operators.hindex) plus
  one groupBy over the authorship⋈article fact — the groupBy reuses the
  window's author_id partitioning, no UDAF;
- unique co-authors: the two-hop self-join, one set per author (J6+A5);
- ranks: pandas-parity int ranks of all four metrics in one pass
  (operators.ranks.pandas_int_ranks) over the finished author table.

The finished table is materialized once before it is ranked. Ranking
reads it once per metric plus once for the value histograms; without
the materialization each read would re-run the statistics, and inside
``transforms.pipeline.run_pipeline`` everything upstream of them back to
the raw JSON scan, so the plan would carry that lineage five times. The
materialized table is dimension-sized (one row per author), not
fact-sized.

At 100 TB the only shuffles are on author_id / article_id; ranks run on
the aggregated dimension, never the fact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.hindex import hindex_col, hindex_ranked
from ..operators.ranks import RANK_WINDOW_MAX_DISTINCT, pandas_int_ranks


def author_statistics(
    author: DataFrame, authorship: DataFrame, article: DataFrame
) -> DataFrame:
    """Attach total_pubs, total_cites, avg_cites, med_coauthors,
    n_unique_coauthors, hindex and the four rank_* columns.

    Runs the statistics eagerly into a local checkpoint (see the module
    docstring); the ranks and the returned frame are lazy over it.

    Parity notes (final_tables.py:125-170):
    - the npubs merge is INNER (:127) → authors without publications in
      the filtered authorship drop out;
    - avg_cites = round(total_cites / total_pubs, 3) (:154). Spark round
      is HALF_UP where pandas/numpy use HALF_EVEN — divergence only on
      exact .0005 boundaries, documented;
    - med_coauthors = exact median of (n_authors − 1) (:155);
    - n_unique_coauthors counts distinct authors across the author's
      articles minus self (:148-150);
    - ranks are pandas ``rank(ascending=0).astype(int)`` (:161-164) →
      pandas_int_ranks; an author with a NULL total_cites (no article
      with a citation count) has no rank and drops out;
    - total_cites/hindex cast to int at the end (:168-170).
    """
    facts = authorship.join(
        article.select(
            "article_id", F.col("n_cites").cast("double").alias("_cites"), "n_authors"
        ),
        "article_id",
    )
    cites = F.col("_cites")
    base = (
        hindex_ranked(facts, ["author_id"], cites, tiebreak=[F.col("article_id")])
        .groupBy("author_id")
        .agg(
            F.count(F.lit(1)).alias("total_pubs"),
            F.sum(cites).cast("long").alias("total_cites"),
            F.median(F.col("n_authors") - 1).alias("med_coauthors"),
            hindex_col(cites).alias("hindex"),
        )
        .withColumn("avg_cites", F.round(F.col("total_cites") / F.col("total_pubs"), 3))
    )

    a = authorship.select(F.col("author_id").alias("_me"), "article_id")
    b = authorship.select(F.col("author_id").alias("_other"), "article_id")
    coauth = (
        a.join(b, "article_id")
        .groupBy(F.col("_me").alias("author_id"))
        # a set per author, not countDistinct: one exchange on author_id
        # instead of a second one on (author, co-author) pairs
        .agg((F.size(F.collect_set("_other")) - 1).cast("long").alias("n_unique_coauthors"))
    )

    enriched = (
        author.join(base, "author_id")  # inner: npubs merge parity
        .join(coauth, "author_id")
        .localCheckpoint()
    )
    ranked = pandas_int_ranks(
        enriched,
        {
            "total_pubs": "rank_total_pubs",
            "total_cites": "rank_total_cites",
            "avg_cites": "rank_avg_cites",
            "hindex": "rank_hindex",
        },
        # count-valued metrics on a dimension-sized table: dictionary
        # cardinality is known, skip the guard's estimate job
        distinct_hint=RANK_WINDOW_MAX_DISTINCT,
    )

    return ranked.select(
        "author_id",
        "last_name",
        "first_name",
        "middle_name",
        "gender",
        F.col("total_pubs").cast("int").alias("total_pubs"),
        F.col("total_cites").cast("int").alias("total_cites"),
        F.col("avg_cites").cast("double").alias("avg_cites"),
        F.col("med_coauthors").cast("double").alias("med_coauthors"),
        F.col("n_unique_coauthors").cast("int").alias("n_unique_coauthors"),
        F.col("hindex").cast("int").alias("hindex"),
        F.col("rank_total_pubs").cast("int").alias("rank_total_pubs"),
        F.col("rank_total_cites").cast("int").alias("rank_total_cites"),
        F.col("rank_avg_cites").cast("int").alias("rank_avg_cites"),
        F.col("rank_hindex").cast("int").alias("rank_hindex"),
    )
