"""Raw arXiv snapshot → star-schema tables, Spark-first.

Re-expresses the semantics of /root/reference/dags/scripts/
raw_to_tables.py (pandas, single-threaded, 3.6 GB in driver memory) as
one declarative plan: the JSON scan projects six fields, filters run
before any fan-out, explodes produce the fact tables, and the NaN/short-id
repair steps are semi/anti joins. Every step is a documented parity
decision; the pandas row-order-dependent bits get explicit orderings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.core import author_id_expr, strip_non_alnum, strip_punct, unaccent, year_from_date_string
from ..io.sources import ARXIV_RAW_SCHEMA, read_jsonl
from ..operators.dedup_relational import deterministic_dedup


def clean_raw(spark: SparkSession, raw_path: str) -> DataFrame:
    """Filter chain of raw_to_tables.py:54-66.

    Order matters for dedup parity: pandas drops duplicate article_ids
    keeping the first *input-order* row (line 58); ``_seq`` (a per-file
    monotonic id captured before any shuffle) pins the same choice.

    Regex note (P3): pandas ``str.contains('cs.')`` treats '.' as a
    wildcard, so "ics.XX" or "physics" both match `cs.` — load-bearing
    reference behavior, reproduced with ``rlike`` (not a literal match).
    """
    from ..session import apply_runtime_confs

    apply_runtime_confs(spark)  # AQE partition coalescing; a foreign
    # session's static 200 shuffle partitions otherwise drown small dims
    # in task/Python-worker overhead
    raw = read_jsonl(spark, raw_path, ARXIV_RAW_SCHEMA).withColumn(
        "_seq", F.monotonically_increasing_id()
    )
    renamed = raw.select(
        F.col("id").alias("article_id"),
        "title",
        "doi",
        "categories",
        F.col("update_date").alias("date"),
        "authors_parsed",
        "_seq",
    )
    return (
        renamed.where(F.col("doi").isNotNull())
        .transform(
            lambda df: deterministic_dedup(df, keys=["article_id"], order_by=[F.col("_seq")])
        )
        .where(F.col("categories").rlike("cs.") & ~F.col("categories").rlike("physics"))
        .where(F.length("title") > 10)
    )


def authorship_author_tables(clean: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Explode authors_parsed → authorship + author
    (raw_to_tables.py:87-124).

    Name cleaning parity:
    - last/first go through unaccent (unidecode at :104-105), middle does
      not; middle gets the punctuation strip (:106);
    - all three get the non-alphanumeric strip + trim (:108-110);
    - first/middle come from splitting element[1] on space, taking the
      first two pieces (:98);
    - author_id = last + first-initial, NULL when first is empty (:113).
    """
    # F.get (not getItem): out-of-range → NULL, matching the pandas
    # expand-split NaN under Spark's ANSI mode
    exploded = clean.select(
        "article_id", F.explode("authors_parsed").alias("ap")
    ).select(
        "article_id",
        F.get(F.col("ap"), 0).alias("_last_raw"),
        F.get(F.split(F.get(F.col("ap"), 1), " "), 0).alias("_first_raw"),
        F.get(F.split(F.get(F.col("ap"), 1), " "), 1).alias("_middle_raw"),
    )
    named = exploded.select(
        "article_id",
        strip_non_alnum(unaccent(F.col("_last_raw"))).alias("last_name"),
        strip_non_alnum(unaccent(F.col("_first_raw"))).alias("first_name"),
        strip_non_alnum(strip_punct(F.col("_middle_raw"))).alias("middle_name"),
    )
    with_id = named.withColumn(
        "author_id", author_id_expr(F.col("last_name"), F.col("first_name"))
    )
    authorship = with_id.select("article_id", "author_id")
    author = with_id.select("author_id", "last_name", "first_name", "middle_name")
    return authorship, author


def article_category_tables(clean: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Space-split + explode of ``categories`` (raw_to_tables.py:128-143).

    category.subdom is NULL for dot-less codes like "adap-org" —
    ``split('.')`` then item(1) reproduces the pandas expand-split NaN.
    """
    article_category = clean.select(
        "article_id", F.explode(F.split("categories", " ")).alias("category_id")
    )
    category = (
        article_category.select(
            "category_id",
            F.get(F.split("category_id", "\\."), 0).alias("superdom"),
            F.get(F.split("category_id", "\\."), 1).alias("subdom"),
        )
        .dropDuplicates()
    )
    return article_category, category


def article_table(clean: DataFrame) -> DataFrame:
    """article dimension pre-augmentation (raw_to_tables.py:147-159).

    journal_issn/type/n_cites start NULL (filled by the Crossref
    enricher); n_cites is typed STRING for DWH parity (sql_queries.py:24
    declares VARCHAR; queries cast ``::DECIMAL``)."""
    return clean.select(
        "article_id",
        "title",
        "doi",
        F.size("authors_parsed").cast("int").alias("n_authors"),
        F.lit(None).cast("string").alias("journal_issn"),
        F.lit(None).cast("string").alias("type"),
        F.lit(None).cast("string").alias("n_cites"),
        year_from_date_string(F.col("date")).alias("year"),
    )


def remove_bad_authors(
    article: DataFrame, authorship: DataFrame, author: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """NaN / too-short author-id repair (raw_to_tables.py:176-189).

    pandas does this with isin() against collected id arrays; here the
    same semantics are anti-joins (P7): articles having ANY null or
    len<4 author lose all their rows in article+authorship, and those
    authors leave the author table.
    """
    bad_articles = (
        authorship.where(F.col("author_id").isNull() | (F.length("author_id") < 4))
        .select("article_id")
        .distinct()
    )
    author_clean = author.where(
        F.col("author_id").isNotNull() & (F.length("author_id") >= 4)
    )
    article_clean = article.join(bad_articles, "article_id", "left_anti")
    authorship_clean = authorship.join(bad_articles, "article_id", "left_anti")
    return article_clean, authorship_clean, author_clean


def tables_from_clean(clean: DataFrame) -> dict[str, DataFrame]:
    """The 5 pre-augmentation tables from :func:`clean_raw`'s output
    (journal starts empty and is derived post-augmentation).

    Every table is computed from ``clean``: a caller materializing several
    of them separately caches ``clean`` first, or each pays its own raw
    scan.
    """
    authorship, author = authorship_author_tables(clean)
    article_category, category = article_category_tables(clean)
    article = article_table(clean)
    article, authorship, author = remove_bad_authors(article, authorship, author)
    # NB: referential-consistency filtering of article_category/category
    # belongs to the post-augmentation stage (final_tables.py:187,200) —
    # see transforms.pipeline — raw_to_tables leaves them unfiltered.
    return {
        "article": article,
        "authorship": authorship,
        "author": author,
        "article_category": article_category,
        "category": category,
    }


def extract_tables(spark: SparkSession, raw_path: str) -> dict[str, DataFrame]:
    """Full ingestion: raw JSON-lines → the 5 pre-augmentation tables,
    sharing one cached raw scan (never released: the tables stay lazy
    over it).

    One logical plan end-to-end — Catalyst pushes the projection into the
    JSON scan and runs the filters before the explodes, which is the
    whole raw_to_tables.py program without a single driver-side loop.
    """
    return tables_from_clean(clean_raw(spark, raw_path).cache())
