"""Data-quality checks replacing the reference's database constraints.

The reference enforces integrity with Postgres PKs (sql_queries.py:26,48,
57,67,76,88) and Neo4j uniqueness constraints
(research_pipeline_dag.py:291-294); Spark has no constraints, so these
become explicit validation aggregations — run them after a job, fail the
run on violation. A batch of checks is a single query (``run_checks``),
no collect of data rows.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class CheckResult:
    name: str
    ok: bool
    detail: str


@dataclass
class Check:
    """A check as key rows ``(k, c, p)``, one frame per measured item, and
    a ``judge`` that turns the items' totals into its result.

    ``k`` is a key as a string, ``c`` counts the row on the checked
    (child) side and ``p`` on the parent side. Each item's totals are
    ``rows`` = Σc, ``keys`` = non-NULL k with c > 0 and ``orphans`` = Σc
    over non-NULL k without a parent row.
    """

    parts: list[DataFrame]
    judge: Callable[[list[dict]], CheckResult]


def _rows(df: DataFrame, key: Column, c: Column | None = None, p: int = 0) -> DataFrame:
    return df.select(
        key.cast("string").alias("k"),
        (F.lit(1) if c is None else c).cast("long").alias("c"),
        F.lit(p).cast("long").alias("p"),
    )


def unique_key(df: DataFrame, keys: list[str], name: str = "") -> Check:
    """PK / uniqueness-constraint parity (G9): every row has a distinct
    key; a row with a NULL key part has none."""
    cols = [F.col(k) for k in keys]
    key = cols[0] if len(cols) == 1 else F.when(
        reduce(lambda a, b: a & b, [c.isNotNull() for c in cols]),
        F.to_json(F.array(*[c.cast("string") for c in cols])),
    )

    def judge(items):
        n, d = items[0]["rows"], items[0]["keys"]
        return CheckResult(
            name or f"unique({','.join(keys)})", n == d, f"rows={n} distinct={d}"
        )

    return Check([_rows(df, key)], judge)


def not_null(df: DataFrame, cols: list[str], name: str = "") -> Check:
    def judge(items):
        bad = {c: it["rows"] for c, it in zip(cols, items) if it["rows"]}
        return CheckResult(name or f"not_null({','.join(cols)})", not bad, f"nulls={bad}")

    no_key = F.lit(None).cast("string")
    return Check([_rows(df, no_key, F.col(c).isNull()) for c in cols], judge)


def referential(
    child: DataFrame, child_key: str, parent: DataFrame, parent_key: str, name: str = ""
) -> Check:
    """FK parity: no child key missing from the parent (the reference
    *repairs* instead of checking — analytical_queries.ipynb cell 10; the
    engine validates after its repair joins)."""
    rows = _rows(child.where(F.col(child_key).isNotNull()), F.col(child_key)).unionByName(
        _rows(parent, F.col(parent_key), c=F.lit(0), p=1)
    )

    def judge(items):
        orphans = items[0]["orphans"]
        return CheckResult(
            name or f"fk({child_key}->{parent_key})", orphans == 0, f"orphans={orphans}"
        )

    return Check([rows], judge)


def run_checks(checks: list[Check]) -> list[CheckResult]:
    """Every check's result from one query: the key rows of all checks in
    one union, grouped by (item, key) and then by item — two shuffles and
    one collect of one row per item, however many checks there are."""
    parts = [part for chk in checks for part in chk.parts]
    if not parts:
        return []
    rows = reduce(
        DataFrame.unionByName,
        [part.withColumn("item", F.lit(i)) for i, part in enumerate(parts)],
    )
    per_key = rows.groupBy("item", "k").agg(F.sum("c").alias("c"), F.sum("p").alias("p"))
    totals = {
        r["item"]: r.asDict()
        for r in per_key.groupBy("item").agg(
            F.sum("c").alias("rows"),
            F.count(F.when(F.col("c") > 0, F.col("k"))).alias("keys"),
            F.sum(F.when(F.col("k").isNotNull() & (F.col("p") == 0), F.col("c")))
            .alias("orphans"),
        ).collect()
    }
    empty = {"rows": 0, "keys": 0, "orphans": 0}
    results, i = [], 0
    for chk in checks:
        items = [
            {k: (totals.get(j) or empty)[k] or 0 for k in empty}
            for j in range(i, i + len(chk.parts))
        ]
        results.append(chk.judge(items))
        i += len(chk.parts)
    return results


def run_star_schema_checks(tables: dict[str, DataFrame]) -> list[CheckResult]:
    """The full constraint set of sql_queries.py:16-90 as checks, run as
    one query."""
    t = tables
    return run_checks([
        unique_key(t["article"], ["article_id"], "article.pk"),
        unique_key(t["author"], ["author_id"], "author.pk"),
        unique_key(t["journal"], ["journal_issn"], "journal.pk"),
        unique_key(t["category"], ["category_id"], "category.pk"),
        not_null(t["article"], ["article_id", "title"], "article.notnull"),
        referential(t["authorship"], "article_id", t["article"], "article_id"),
        referential(t["authorship"], "author_id", t["author"], "author_id"),
        referential(t["article_category"], "article_id", t["article"], "article_id"),
        referential(t["article_category"], "category_id", t["category"], "category_id"),
        referential(t["article"], "journal_issn", t["journal"], "journal_issn"),
    ])


def quality_report(tables: dict[str, DataFrame],
                   fks: list[tuple[str, str, str, str]],
                   uniques: list[tuple[str, str]],
                   not_nulls: list[tuple[str, str]]) -> DataFrame:
    """One DataFrame of (tbl, chk, n_violations) for a whole schema —
    the ANALYZE/dbt-test style report the per-check helpers above don't
    compose into. All checks are single aggregations or anti-join
    counts; nothing is collected. Deterministic, so it is itself
    oracle-checkable (registered as s12).

    fks: (child_tbl, child_key, parent_tbl, parent_key)
    uniques: (tbl, key); not_nulls: (tbl, col)
    """
    frames = []
    for tbl, key in uniques:
        frames.append(
            tables[tbl].agg(
                (F.count(F.lit(1)) - F.count_distinct(F.col(key)))
                .cast("bigint").alias("n_violations")
            ).select(
                F.lit(tbl).alias("tbl"),
                F.lit(f"unique_{key}").alias("chk"),
                "n_violations",
            )
        )
    for tbl, col in not_nulls:
        frames.append(
            tables[tbl].agg(
                F.coalesce(F.sum(F.col(col).isNull().cast("bigint")), F.lit(0))
                .cast("bigint").alias("n_violations")
            ).select(
                F.lit(tbl).alias("tbl"),
                F.lit(f"not_null_{col}").alias("chk"),
                "n_violations",
            )
        )
    for child, ckey, parent, pkey in fks:
        orphans = tables[child].join(
            tables[parent].select(F.col(pkey).alias(ckey)).distinct(),
            ckey,
            "left_anti",
        )
        frames.append(
            orphans.agg(F.count(F.lit(1)).cast("bigint").alias("n_violations"))
            .select(
                F.lit(child).alias("tbl"),
                F.lit(f"fk_{ckey}_to_{parent}").alias("chk"),
                "n_violations",
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out
