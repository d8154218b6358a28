"""End-to-end batch pipeline: the reference's Airflow DAG as one Spark
driver program.

Task graph parity (research_pipeline_dag.py:397-441): ingest → augment →
consistency-filter → final tables. Celery-worker task boundaries become
stage boundaries; CSV checkpoints become optional parquet checkpoints
(io.checkpoint); the sequential-to-bound-memory design constraint
(README.md:88) disappears — executors spill instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .augment import (
    Fetcher,
    add_gender,
    enrich_articles,
    filter_journal_articles,
    journal_from_articles,
)
from .author_stats import author_statistics
from .ingestion import clean_raw, extract_tables, tables_from_clean
from ..operators.dedup_relational import deterministic_dedup


def run_pipeline(
    spark: SparkSession,
    raw_path: str,
    names_genders: DataFrame,
    cwts: DataFrame,
    fetcher: Fetcher,
) -> dict[str, DataFrame]:
    """Raw arXiv JSON-lines → the six data_ready star-schema tables.

    Mirrors check_or_augment (research_pipeline_dag.py:92-123) +
    final_tables.py end to end:
    ingest → Crossref enrich → journal-article filter → journal dim from
    CWTS → article⋈journal consistency filter (dag :116) → authorship/
    author/article_category/category consistency + author statistics.
    """
    t = extract_tables(spark, raw_path)

    enriched = filter_journal_articles(enrich_articles(t["article"], fetcher))
    # cache: the enrichment (external I/O) must run once, not once per
    # downstream table — the Spark analogue of the reference's
    # article_augmented_raw.csv checkpoint (final_tables.py:19-22)
    enriched = enriched.cache()
    journal = journal_from_articles(enriched, cwts).cache()

    # Remove articles whose journal wasn't found (research_pipeline_dag.py:116)
    article = (
        enriched.join(journal.select("journal_issn"), "journal_issn", "left_semi")
        .select(t["article"].columns)  # restore reference column order
        .cache()
    )

    # authorship_ready (final_tables.py:91-103): only surviving articles
    authorship = t["authorship"].join(
        article.select("article_id"), "article_id", "left_semi"
    ).cache()

    # author_ready (final_tables.py:106-175): dedup, restrict to authors
    # present in authorship, gender augment, then the statistics job
    author_dim = _author_dim(t["author"], authorship)
    author = author_statistics(add_gender(author_dim, names_genders), authorship, article)

    # article_category_ready / category_ready (final_tables.py:178-203)
    article_category = t["article_category"].join(
        article.select("article_id"), "article_id", "left_semi"
    )
    category = t["category"].join(
        article_category.select("category_id"), "category_id", "left_semi"
    )

    return {
        "article": article,
        "journal": journal,
        "authorship": authorship,
        "author": author,
        "article_category": article_category,
        "category": category,
    }


def _author_dim(author: DataFrame, authorship: DataFrame) -> DataFrame:
    """One row per author_id, the first by name (final_tables.py:113),
    restricted to authors present in ``authorship``. ``author`` carries
    only the key and the three ordering columns, so a full-row dedup
    first would change nothing."""
    return deterministic_dedup(
        author,
        keys=["author_id"],
        order_by=[F.col("last_name"), F.col("first_name"), F.col("middle_name")],
    ).join(authorship.select("author_id"), "author_id", "left_semi")


def run_pipeline_checkpointed(
    spark: SparkSession,
    raw_path: str,
    names_genders: DataFrame,
    cwts: DataFrame,
    fetcher: Fetcher,
    ckpt_dir: str,
) -> dict[str, DataFrame]:
    """:func:`run_pipeline` with per-stage parquet checkpoints — the
    Airflow-retry story as driver logic: a crash reruns only the stages
    whose checkpoint is missing (io.checkpoint.compute_or_reuse probes
    the _SUCCESS marker through the Hadoop FS, so the same resume works
    on HDFS/S3A). Mirrors the reference's if-CSV-exists-read-it
    idempotency (final_tables.py:12-26) with committed parquet instead
    of half-written CSV.

    Stage boundaries follow the expensive/external edges: ingest (full
    raw scan), enrichment (external API — the hours-long stage), and the
    final consistency-filtered tables. Cheap derivations between
    checkpoints stay lazy.

    The five ``raw_*`` stages share one cached scan of the raw JSON,
    released once they are committed; the author stage's local
    checkpoint is released by ``compute_or_reuse`` when it commits. Every
    returned table reads its checkpoint, so the call leaves nothing
    cached behind.
    """
    from ..io.checkpoint import compute_or_reuse

    def _ck(name: str, compute) -> DataFrame:
        return compute_or_reuse(spark, f"{ckpt_dir}/{name}", compute)

    clean = clean_raw(spark, raw_path).cache()
    try:
        raw = tables_from_clean(clean)
        t = {
            name: _ck(f"raw_{name}", lambda n=name: raw[n])
            for name in ("article", "authorship", "author", "article_category",
                         "category")
        }
    finally:
        clean.unpersist()
    enriched = _ck(
        "enriched",
        lambda: filter_journal_articles(enrich_articles(t["article"], fetcher)),
    )
    journal = _ck("journal", lambda: journal_from_articles(enriched, cwts))
    article = _ck(
        "article",
        lambda: enriched.join(
            journal.select("journal_issn"), "journal_issn", "left_semi"
        ).select(t["article"].columns),
    )
    authorship = _ck(
        "authorship",
        lambda: t["authorship"].join(
            article.select("article_id"), "article_id", "left_semi"
        ),
    )
    author = _ck(
        "author",
        lambda: author_statistics(
            add_gender(_author_dim(t["author"], authorship), names_genders),
            authorship,
            article,
        ),
    )
    article_category = _ck(
        "article_category",
        lambda: t["article_category"].join(
            article.select("article_id"), "article_id", "left_semi"
        ),
    )
    category = _ck(
        "category",
        lambda: t["category"].join(
            article_category.select("category_id"), "category_id", "left_semi"
        ),
    )
    return {
        "article": article,
        "journal": journal,
        "authorship": authorship,
        "author": author,
        "article_category": article_category,
        "category": category,
    }
