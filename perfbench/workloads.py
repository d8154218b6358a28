"""The benchmark's workloads.

Each workload generates its inputs from the seed and runs a fixed list of
operations once per pass: the closed loop of one client (one analyst, or
one scheduled DAG run) on one Spark session. Outputs are checked outside
the timed region. Spans are opened around every call into a layer; with
tracing off they cost one ``if`` each.
"""

from __future__ import annotations

import gc
import os
import random
import shutil
import sys
import time

from . import gen_arxiv, gen_tables
from .oracle import duckdb_frame, mismatch

PKG = "research_data_pipeline_spark"


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def reset_state(spark, artifact_dir: str) -> None:
    """Start a pass from the same state as every other pass: drop the
    package's in-process memo caches, Spark's cache, and point the durable
    artifact store at a fresh directory."""
    for name, mod in list(sys.modules.items()):
        if mod is None or not name.startswith(PKG):
            continue
        for attr, value in vars(mod).items():
            if attr.endswith("_CACHE") and isinstance(value, dict):
                value.clear()
    spark.catalog.clearCache()
    shutil.rmtree(artifact_dir, ignore_errors=True)
    os.makedirs(artifact_dir)
    os.environ["SPARK_GRAFT_ARTIFACT_DIR"] = artifact_dir


def error_line(exc: BaseException) -> str:
    lines = str(exc).strip().splitlines() or [""]
    return f"{type(exc).__name__}: {lines[0][:200]}"


def registry_specs(names):
    from research_data_pipeline_spark.registry import all_specs

    specs = all_specs()
    return {q: specs[q] for q in names}


class AdhocWorkload:
    """An analyst's session: a fixed list of registry queries, each built
    and executed once per pass into a noop sink, in a seed-shuffled order,
    after the shared memoized corpus artifacts are built."""

    name = "adhoc_sf0.1"

    def __init__(self, size: dict):
        self.size = size
        self.queries = adhoc_queries()

    def generate(self, data_dir: str, seed: int) -> dict:
        """The sf tables, with the replicated corpus in place of their
        ``documents`` and ``embeddings``."""
        z = self.size
        self.data_dir = data_dir
        self.order = list(self.queries)
        random.Random(seed).shuffle(self.order)
        rows = gen_tables.write_sf_tables(data_dir, seed, z["sf"])
        rows.update(gen_tables.write_corpus(
            data_dir, seed, z["base_docs"], z["base_vecs"], z["replicas"]))
        return rows

    def check(self, spark, work_dir: str) -> tuple[int, list[str]]:
        """Run every query once into pandas and compare it with its DuckDB
        oracle over the same files. Runs before the timed passes, so it
        is also the warm-up."""
        reset_state(spark, f"{work_dir}/artifacts-check")
        errors = []
        for q, spec in registry_specs(self.queries).items():
            try:
                got = spec.fn(spark, self.data_dir).toPandas()
                bad = mismatch(got, duckdb_frame(spec.oracle, self.data_dir))
            except Exception as exc:  # noqa: BLE001 - counted, not raised
                bad = error_line(exc)
            if bad:
                errors.append(f"{q}: {bad}")
        return len(self.queries), errors

    def run_pass(self, spark, tracer, work_dir: str, k: int) -> dict:
        reset_state(spark, f"{work_dir}/artifacts-{k}")
        specs = registry_specs(self.queries)
        t_pass = time.perf_counter()
        for art in CURATION_SHARED:
            with tracer.span(f"shared.{art}"):
                _build_shared(spark, self.data_dir, art)
        shared_s = time.perf_counter() - t_pass
        ops, errors, by_query = [], [], {}
        for q in self.order:
            spec = specs[q]
            module = spec.fn.__module__.rsplit(".", 1)[-1]
            streaming = "streaming" in spec.tags
            t0 = time.perf_counter()
            try:
                with tracer.span("streaming.drain" if streaming else f"queries.{module}",
                                 query=q, module=module):
                    with tracer.span("queries.plan"):
                        df = spec.fn(spark, self.data_dir)
                    with tracer.span("queries.exec"):
                        noop(df)
            except Exception as exc:  # noqa: BLE001 - counted, not raised
                errors.append(f"{q}: {error_line(exc)}")
                continue
            ops.append(time.perf_counter() - t0)
            by_query[q] = ops[-1]
        return {"pass_s": time.perf_counter() - t_pass, "ops": ops, "errors": errors,
                "attempted": len(self.order), "by_query": by_query, "shared_s": shared_s}

    def summary(self, passes: list[dict]) -> dict:
        ops = [x for p in passes for x in p["ops"]]
        pass_s = median([p["pass_s"] for p in passes])
        kinds = {"stream": [], "curation": [], "query": []}
        for p in passes:
            for q, t in p["by_query"].items():
                kind = ("curation" if q in CURATION_QUERIES
                        else "stream" if q in STREAM_QUERIES else "query")
                kinds[kind].append(t)
        return {
            "pass_s": (pass_s, "s"),
            "query_p50_s": (quantile(kinds["query"], 0.5), "s"),
            "query_p90_s": (quantile(kinds["query"], 0.9), "s"),
            "adhoc_queries_per_min": (len(ops) * 60.0 / sum(p["pass_s"] for p in passes),
                                      "queries/min"),
            "drain_p50_s": (quantile(kinds["stream"], 0.5), "s"),
            "curation_s": (median([p["shared_s"] for p in passes])
                           + sum(kinds["curation"]) / len(passes), "s"),
        }


def _build_shared(spark, data_dir: str, art: str) -> None:
    """Build the memoized artifact ``art`` the way its first consumer
    query would, through the query module's private builder."""
    from research_data_pipeline_spark.queries import docs

    getattr(docs, f"_{art}")(spark, data_dir)


def median(xs: list[float]) -> float:
    return quantile(xs, 0.5)


def quantile(xs: list[float], q: float) -> float:
    """Linear-interpolated quantile; 0.0 for an empty list."""
    if not xs:
        return 0.0
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


# ---------------------------------------------------------------------------
# etl_arxiv

ETL_TABLES = ["article", "journal", "authorship", "author", "article_category", "category"]

AUTHOR_STATS_ORACLE = """
WITH facts AS (
    SELECT au.author_id, au.article_id,
           CAST(ar.n_cites AS DOUBLE) AS cites, ar.n_authors
    FROM authorship au JOIN article ar ON au.article_id = ar.article_id
), base AS (
    SELECT author_id, COUNT(*) AS total_pubs,
           CAST(SUM(cites) AS BIGINT) AS total_cites,
           MEDIAN(n_authors - 1) AS med_coauthors
    FROM facts GROUP BY author_id
), ranked AS (
    SELECT author_id, cites,
           ROW_NUMBER() OVER (PARTITION BY author_id
                              ORDER BY cites DESC, article_id) AS rn
    FROM facts
), hid AS (
    SELECT author_id,
           CAST(COALESCE(MAX(CASE WHEN cites >= rn THEN rn END), 0) AS BIGINT) AS hindex
    FROM ranked GROUP BY author_id
), co AS (
    SELECT a.author_id, COUNT(DISTINCT b.author_id) - 1 AS n_unique_coauthors
    FROM authorship a JOIN authorship b ON a.article_id = b.article_id
    GROUP BY a.author_id
)
SELECT b.author_id, b.total_pubs, b.total_cites,
       ROUND(b.total_cites * 1.0 / b.total_pubs, 3) AS avg_cites,
       b.med_coauthors, co.n_unique_coauthors, hid.hindex
FROM base b JOIN hid USING (author_id) JOIN co USING (author_id)
"""

DWH_PCT = 1.0
READ_ROUNDS = 2


class EtlWorkload:
    """The paper's DAG as a scheduled run executes it:
    ``run_pipeline_checkpointed`` (ingest -> augment -> author statistics,
    each stage committed to parquet), the six star-schema tables written
    with ``io.sinks``, the constraint checks, the property graph and its
    Neo4j bulk-import export, then the DWH and graph reads over the
    written tables.

    Not ``run_pipeline``: its single fused plan re-derives every stage from
    the raw JSON inside each of the author table's jobs and took ~58 s per
    warm pass even at 500 raw records (4-core x86 box), too long for the
    benchmark's per-run budget. The checkpointed DAG runs the same
    transforms and is what a retrying scheduler runs."""

    name = "etl_arxiv"

    def __init__(self, n_raw: int):
        self.n_raw = n_raw

    def generate(self, data_dir: str, seed: int) -> dict:
        self.raw_path = f"{data_dir}/arxiv_raw.jsonl"
        self.raw_lines = gen_arxiv.write_arxiv_raw(self.raw_path, self.n_raw, seed)
        self.raw_mb = os.path.getsize(self.raw_path) / 1e6
        self.outputs: list[tuple[str, list]] = []
        return {"raw_records": self.raw_lines}

    def _lookups(self, spark):
        from pyspark.sql import functions as F

        names = spark.createDataFrame(
            gen_arxiv.names_genders_rows(),
            "first_name string, alph_value string, gender string, prob string",
        )
        cwts = spark.createDataFrame(
            gen_arxiv.cwts_rows(),
            "source_title string, print_issn string, electronic_issn string, "
            "snip double, year int",
        ).where(F.col("year") == 2021)
        return names, cwts

    def check(self, spark, work_dir: str) -> tuple[int, list[str]]:
        """Outputs are checked after the passes (``check_outputs``)."""
        return 0, []

    def run_pass(self, spark, tracer, work_dir: str, k: int) -> dict:
        from research_data_pipeline_spark.graph.queries import build_graph
        from research_data_pipeline_spark.io.neo4j_export import export_neo4j_admin
        from research_data_pipeline_spark.io.sinks import write_parquet
        from research_data_pipeline_spark.quality import run_star_schema_checks
        from research_data_pipeline_spark.transforms.pipeline import run_pipeline_checkpointed

        reset_state(spark, f"{work_dir}/artifacts-{k}")
        out = f"{work_dir}/etl-{k}"
        t_pass = time.perf_counter()
        names, cwts = self._lookups(spark)
        # the stage spans come from layers.instrument_all
        tables = run_pipeline_checkpointed(
            spark, self.raw_path, names, cwts, gen_arxiv.fetcher, f"{out}/stages")
        with tracer.span("io.sinks", out=f"{out}/tables"):
            for name in ETL_TABLES:
                write_parquet(tables[name], f"{out}/tables/{name}")
        back = {name: spark.read.parquet(f"{out}/tables/{name}") for name in ETL_TABLES}
        with tracer.span("quality"):
            quality = run_star_schema_checks(back)
        with tracer.span("graph.queries.build_graph"):
            graph = build_graph(back)
        with tracer.span("io.neo4j_export", out=f"{out}/neo4j"):
            export_neo4j_admin(graph["vertices"], _typed_edges(graph), f"{out}/neo4j")
        load_s = time.perf_counter() - t_pass
        self.outputs.append((f"{out}/tables", quality))
        ops, by_query = self._reads(spark, tracer, back, graph)
        return {"pass_s": time.perf_counter() - t_pass, "ops": ops, "errors": [],
                "attempted": len(ops), "load_s": load_s, "by_query": by_query}

    def _read_queries(self, back, graph):
        from pyspark.sql import functions as F

        from research_data_pipeline_spark.graph import queries as gq
        from research_data_pipeline_spark.queries import dwh

        t = back
        hub = t["author"].orderBy(F.col("total_pubs").desc(), "author_id").first().author_id
        title = t["journal"].orderBy("journal_issn").first().journal_title
        return [
            ("queries.dwh", lambda: dwh.q1_top_publishers(t["author"], pct=DWH_PCT)),
            ("queries.dwh", lambda: dwh.q2_top_journals(
                t["author"], t["authorship"], t["article"], t["journal"], pct=DWH_PCT)),
            ("queries.dwh", lambda: dwh.q3_most_productive_year(
                t["author"], t["authorship"], t["article"], pct=DWH_PCT)),
            ("queries.dwh", lambda: dwh.q4_most_influential_year(
                t["author"], t["authorship"], t["article"], pct=DWH_PCT)),
            ("graph.queries", lambda: gq.label_counts(graph)),
            ("graph.queries", lambda: gq.edge_counts(graph)),
            ("graph.queries", lambda: gq.ego_network(graph, hub)),
            ("graph.queries", lambda: gq.papers_in_journal(graph, t["journal"], title)),
            ("graph.queries", lambda: gq.articles_by_subdomain(
                graph, t["article"], t["category"], "LG", 100)),
            ("graph.queries", lambda: gq.coauthors_per_article(graph, hub)),
        ]

    def _reads(self, spark, tracer, back, graph) -> tuple[list[float], dict]:
        """The ten reads, ``READ_ROUNDS`` times over: an analyst querying
        the freshly loaded tables. The heaps are collected first, so the
        load's garbage is not collected during the reads. The reads keep
        getting faster for about ten rounds while the JVM warms up (one
        round from ~5 s to ~2.8 s on a 4-core x86 box), at a pace that
        differs from run to run, so a read's latency is its median over
        the rounds, not one round's. Returns every latency and each read's
        median."""
        queries = self._read_queries(back, graph)
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        ops, per_read = [], [[] for _ in queries]
        for _ in range(READ_ROUNDS):
            for i, (name, build) in enumerate(queries):
                t0 = time.perf_counter()
                with tracer.span(name):
                    noop(build())
                per_read[i].append(time.perf_counter() - t0)
                ops.append(per_read[i][-1])
        return ops, {f"read{i:02d}": median(ts) for i, ts in enumerate(per_read)}

    def check_outputs(self, spark) -> tuple[int, list[str]]:
        """Checks every pass's written tables against that pass's own
        star-schema check results, the DuckDB author-statistics and DWH Q1
        formulations, and G1's label counts against the table sizes."""
        from research_data_pipeline_spark.graph import queries as gq
        from research_data_pipeline_spark.queries import dwh

        attempted, errors = 0, []
        for out, quality in self.outputs:
            back = {name: spark.read.parquet(f"{out}/{name}") for name in ETL_TABLES}
            for r in quality:
                attempted += 1
                if not r.ok:
                    errors.append(f"quality {r.name}: {r.detail}")
            author = back["author"].toPandas()
            attempted += 1
            bad = _author_stats_mismatch(author, out)
            if bad:
                errors.append(f"author statistics: {bad}")
            attempted += 1
            k = int(len(author) * DWH_PCT / 100)
            exp = duckdb_frame(
                f"SELECT author_id, rank_total_pubs AS rank, total_pubs AS publications "
                f"FROM author ORDER BY rank_total_pubs, author_id LIMIT {k}",
                _views_dir(out),
            )
            bad = mismatch(dwh.q1_top_publishers(back["author"], pct=DWH_PCT).toPandas(), exp)
            if bad:
                errors.append(f"dwh q1: {bad}")
            attempted += 1
            counts = {r.label: r.cnt for r in gq.label_counts(gq.build_graph(back)).collect()}
            sizes = {"Author": len(author), "Article": back["article"].count()}
            if any(counts.get(lbl) != n for lbl, n in sizes.items()):
                errors.append(f"graph g1: {counts} vs {sizes}")
        return attempted, errors

    def summary(self, passes: list[dict]) -> dict:
        return {
            "pass_s": (median([p["pass_s"] for p in passes]), "s"),
            "etl_records_per_s": (
                self.raw_lines / median([p["load_s"] for p in passes]), "records/s"),
            "etl_query_s": (median([sum(p["by_query"].values()) for p in passes]), "s"),
        }


def _typed_edges(graph):
    from pyspark.sql import functions as F

    parts = [
        graph[rel].select("src", "dst", F.lit(rel).alias("rel"))
        for rel in ("AUTHORED", "BELONGS_TO", "COAUTHORS", "PUBLISHED_IN")
    ]
    edges = parts[0]
    for p in parts[1:]:
        edges = edges.unionByName(p)
    return edges


def _views_dir(out: str) -> str:
    """A directory of ``<table>.parquet`` links to the written tables, the
    layout ``duckdb_frame`` reads."""
    views = f"{out}/views"
    if not os.path.isdir(views):
        os.makedirs(views)
        for name in ETL_TABLES:
            os.symlink(f"{out}/{name}", f"{views}/{name}.parquet")
    return views


def _author_stats_mismatch(author, out: str) -> str | None:
    """Compare the written ``author`` table with the DuckDB formulation over
    the written ``authorship`` and ``article``. The pipeline keeps exactly
    the authors with an authorship row (its left-semi join), which the
    oracle's inner joins on authorship reproduce, so both sides must hold
    the same author ids."""
    exp = duckdb_frame(AUTHOR_STATS_ORACLE, _views_dir(out))
    got = author.sort_values("author_id", ignore_index=True)
    exp = exp.sort_values("author_id", ignore_index=True)
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    if not (got.author_id == exp.author_id).all():
        return "author ids differ"
    for col in ["total_pubs", "total_cites", "hindex", "n_unique_coauthors"]:
        if not (got[col].astype(int) == exp[col].astype(int)).all():
            return f"{col} differs"
    for col in ["avg_cites", "med_coauthors"]:
        if (got[col] - exp[col]).abs().max() >= 1e-9:
            return f"{col} differs"
    return None


# ---------------------------------------------------------------------------
# adhoc_sf0.1

# The analyst session (``adhoc_sf0.1``) runs three kinds of query over one
# set of tables: the first query of each non-streaming registry family
# (q relational, s sampling, g graph, e events; the dwh family runs on
# ``etl_arxiv``), one streaming drain (a tumbling-window aggregation) that
# enters the micro-batch machinery, and one corpus query per corpus
# operator module (text_dedup: d05; similarity: d13), each the consumer of
# one shared memoized artifact (LSH pair stream; IVF assignment) whose
# oracle is cheap enough to check in every run.
ADHOC_FAMILIES = ["q", "s", "g", "e"]
STREAM_QUERIES = ["e02_streaming_tumbling"]
CURATION_QUERIES = ["d05_exact_dedup", "d13_ann_ivf"]
CURATION_SHARED = ["lsh_pair_stream", "ivf_assign_table"]

# Input sizes; ``tiny`` is the smoke-test scale.
SIZES = {
    "full": {"sf": 0.1, "base_docs": 500, "base_vecs": 200, "replicas": 2, "raw": 1000},
    "tiny": {"sf": 0.001, "base_docs": 100, "base_vecs": 100, "replicas": 2, "raw": 200},
}


def adhoc_queries() -> list[str]:
    from research_data_pipeline_spark.registry import all_specs

    batch = sorted(n for n, s in all_specs().items() if "streaming" not in s.tags)
    firsts = [next(n for n in batch if n.split("_")[0].rstrip("0123456789") == fam)
              for fam in ADHOC_FAMILIES]
    return firsts + STREAM_QUERIES + CURATION_QUERIES


def make(name: str, size: str = "full"):
    if name == "etl_arxiv":
        return EtlWorkload(SIZES[size]["raw"])
    if name == "adhoc_sf0.1":
        return AdhocWorkload(SIZES[size])
    raise KeyError(name)


WORKLOADS = ["etl_arxiv", "adhoc_sf0.1"]
