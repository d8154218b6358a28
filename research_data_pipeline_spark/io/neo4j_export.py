"""neo4j-admin bulk-import CSV export (SURVEY S8 last mile).

The reference loads Neo4j online with batched ``UNWIND $rows ... MERGE``
transactions (/root/reference/dags/scripts/neo4j_queries.py:39-123,
research_pipeline_dag.py:345-369) — fine for ~100k nodes, hopeless at
100 TB: transactional MERGE is orders of magnitude slower than the
offline ``neo4j-admin database import`` bulk path, which ingests
header-described CSVs directly into store files.

This sink emits exactly that layout from the engine's generic
``vertices(id, label, props...)`` / ``edges(src, dst, rel, props...)``
DataFrames:

    base/
      nodes/<label>/header.csv      one line:  id:ID,prop[:type],...,:LABEL
      nodes/<label>/data/part-*.csv headerless rows (distributed write)
      relationships/<rel>/header.csv  :START_ID,:END_ID,prop[:type],...,:TYPE
      relationships/<rel>/data/part-*.csv
      import_command.txt            ready-to-run neo4j-admin invocation

Scale shape: the data files are a plain distributed CSV write (one task
per partition, no driver materialization); only the one-line headers and
the command file are driver-written. MERGE idempotency becomes
dedup-before-write plus hard uniqueness validation — neo4j-admin aborts
on duplicate IDs, so we fail fast Spark-side with counts instead of
letting a multi-hour import die halfway.
"""

from __future__ import annotations

import os
import re
from functools import reduce

# Labels / relationship types become filesystem path segments and are
# interpolated into the generated neo4j-admin command line, so they must
# not carry separators, globs, quotes or whitespace. Neo4j's own naming
# rules are looser, but anything outside this set would corrupt the
# export layout or the command — fail fast instead.
_SAFE_NAME = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _check_safe_names(values: list, what: str) -> None:
    bad = [v for v in values if v is None or not _SAFE_NAME.match(str(v))]
    if bad:
        raise ValueError(
            f"{what} values must match {_SAFE_NAME.pattern!r} (they become "
            f"paths and command-line args); offending: {bad[:5]}"
        )

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Spark type → neo4j-admin header type suffix. Strings carry no suffix
# (string is the import default). Arrays use the ';' list delimiter and
# are typed by their element.
_NEO4J_TYPES = {
    T.ByteType: "long",
    T.ShortType: "long",
    T.IntegerType: "long",
    T.LongType: "long",
    T.FloatType: "double",
    T.DoubleType: "double",
    T.BooleanType: "boolean",
    T.DateType: "date",
    T.TimestampType: "datetime",
}


def _suffix(dtype: T.DataType) -> str:
    if isinstance(dtype, T.DecimalType):
        return ":double"
    if isinstance(dtype, T.ArrayType):
        inner = _suffix(dtype.elementType)
        return (inner or ":string") + "[]"
    for spark_t, neo_t in _NEO4J_TYPES.items():
        if isinstance(dtype, spark_t):
            return f":{neo_t}"
    return ""  # string default


def _prep_props(df: DataFrame, props: list[str]) -> DataFrame:
    """Render property columns into neo4j-admin's expected text forms:
    arrays joined with ';', timestamps as ISO-8601."""
    for name in props:
        dtype = df.schema[name].dataType
        if isinstance(dtype, T.ArrayType):
            df = df.withColumn(name, F.concat_ws(";", F.col(name)))
        elif isinstance(dtype, T.TimestampType):
            df = df.withColumn(
                name, F.date_format(name, "yyyy-MM-dd'T'HH:mm:ss.SSS")
            )
    return df


def _write_headerless_csv(df: DataFrame, path: str) -> None:
    # escape='"' gives RFC-4180 doubled quotes — neo4j-admin's quoting
    # dialect — instead of Spark's default backslash escapes
    (
        df.write.mode("overwrite")
        .option("header", False)
        .option("escape", '"')
        .option("emptyValue", "")
        .csv(path)
    )


def _write_text(path: str, content: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(content)


def _unique_aggs(col: str) -> list:
    """The aggregates :func:`_check_unique` reads, to fold into a query."""
    return [
        F.count(col).alias("n"),
        F.count_distinct(F.col(col)).alias("d"),
        F.sum(F.col(col).isNull().cast("long")).alias("nulls"),
    ]


def _check_unique(stats, col: str, what: str) -> None:
    if stats["nulls"]:
        raise ValueError(f"{what}: {stats['nulls']} null {col} values")
    if stats["n"] != stats["d"]:
        raise ValueError(
            f"{what}: {stats['n'] - stats['d']} duplicate {col} values — "
            "neo4j-admin import aborts on duplicate IDs; dedupe first"
        )


def _dangling(edges: DataFrame, ids: DataFrame | None) -> tuple[str, list] | None:
    """Up to 5 ``src`` endpoints of ``edges`` missing from ``ids`` or, when
    every ``src`` resolves, up to 5 such ``dst`` endpoints: one anti-join
    over both endpoints. ``ids`` None means no id resolves."""
    ends = edges.select(F.inline(F.array(
        F.struct(F.lit(0).alias("_end"), F.col("src").alias("id")),
        F.struct(F.lit(1).alias("_end"), F.col("dst").alias("id")),
    )))
    if ids is not None:
        ends = ends.join(ids, "id", "left_anti")
    rows = ends.orderBy("_end").limit(5).collect()
    if not rows:
        return None
    end = rows[0]["_end"]
    return ("src", "dst")[end], [r["id"] for r in rows if r["_end"] == end]


def export_neo4j_admin(
    vertices: DataFrame,
    edges: DataFrame,
    base_path: str,
    rel_col: str = "rel",
    validate_refs: bool = True,
    database: str = "neo4j",
) -> dict[str, list[str]]:
    """Write vertices/edges as a neo4j-admin bulk-import CSV layout.

    ``vertices`` must have ``id`` and ``label`` columns (extra columns
    become node properties); ``edges`` must have ``src``, ``dst`` and
    ``rel_col`` (extra columns become relationship properties). IDs live
    in one global space (header ``id:ID``), so they are validated
    globally unique across ALL labels; src/dst are validated to resolve
    against the vertex set (``validate_refs``) — one broadcast-friendly
    anti-join, because a dangling relationship aborts the real import
    hours in. Every check runs before the first file is written.

    Returns {"nodes": [labels...], "relationships": [types...]} and
    leaves a ready ``import_command.txt`` under ``base_path``.
    """
    # full-row dedup is the MERGE-idempotency parity; two rows that STILL
    # share an id after it carry conflicting properties — that's a data
    # error neo4j-admin would abort on, so fail fast here with counts.
    # Both deduped frames are cached once: the checks and every family's
    # write read them.
    vertices = vertices.dropDuplicates().persist()
    edges = edges.dropDuplicates().persist()
    try:
        # a NULL label survives collect_set inside its struct
        stats = vertices.agg(
            *_unique_aggs("id"), F.collect_set(F.struct("label")).alias("labels")
        ).first()
        _check_unique(stats, "id", "vertices")

        if validate_refs:
            dangling = _dangling(edges, vertices.select("id"))
            if dangling:
                endpoint, missing = dangling
                raise ValueError(
                    f"edges.{endpoint} references missing vertex ids "
                    f"(first {len(missing)}): {missing}"
                )

        labels = [r["label"] for r in stats["labels"]]
        _check_safe_names(labels, "vertex label")
        rels = [
            r[rel_col]
            for r in edges.agg(F.collect_set(F.struct(rel_col)).alias("rels")).first()["rels"]
        ]
        _check_safe_names(rels, "relationship type")

        node_props = [c for c in vertices.columns if c not in ("id", "label")]
        rendered_v = _prep_props(vertices, node_props)
        for label in sorted(labels):
            part = rendered_v.where(F.col("label") == label).select(
                "id", *node_props, "label"
            )
            header = ",".join(
                ["id:ID"]
                + [f"{p}{_suffix(vertices.schema[p].dataType)}" for p in node_props]
                + [":LABEL"]
            )
            _write_text(f"{base_path}/nodes/{label}/header.csv", header + "\n")
            _write_headerless_csv(part, f"{base_path}/nodes/{label}/data")

        edge_props = [c for c in edges.columns if c not in ("src", "dst", rel_col)]
        rendered_e = _prep_props(edges, edge_props)
        for rel in sorted(rels):
            part = rendered_e.where(F.col(rel_col) == rel).select(
                "src", "dst", *edge_props, F.col(rel_col)
            )
            header = ",".join(
                [":START_ID", ":END_ID"]
                + [f"{p}{_suffix(edges.schema[p].dataType)}" for p in edge_props]
                + [":TYPE"]
            )
            _write_text(f"{base_path}/relationships/{rel}/header.csv", header + "\n")
            _write_headerless_csv(part, f"{base_path}/relationships/{rel}/data")

        cmd = [f"neo4j-admin database import full {database} \\"]
        for label in sorted(labels):
            cmd.append(
                f"  --nodes=nodes/{label}/header.csv,nodes/{label}/data/part-.* \\"
            )
        for rel in sorted(rels):
            cmd.append(
                "  --relationships="
                f"relationships/{rel}/header.csv,relationships/{rel}/data/part-.* \\"
            )
        # --multiline-fields: document-style string properties can carry
        # embedded newlines, which the Spark CSV writer emits RFC-4180-quoted
        # across physical lines; without this flag neo4j-admin treats them as
        # truncated records and aborts mid-import.
        cmd.append(
            "  --delimiter=',' --array-delimiter=';' --multiline-fields=true"
        )
        _write_text(f"{base_path}/import_command.txt", "\n".join(cmd) + "\n")
        return {"nodes": sorted(labels), "relationships": sorted(rels)}
    finally:
        vertices.unpersist()
        edges.unpersist()


def _header_cols(header_line: str) -> list[str]:
    """Column names from a neo4j-admin header line: strip the :type
    suffixes, map the reserved markers back to engine column names."""
    out = []
    for field in header_line.strip().split(","):
        if field == ":LABEL":
            out.append("label")
        elif field == ":TYPE":
            out.append("rel")
        elif field == ":START_ID":
            out.append("src")
        elif field == ":END_ID":
            out.append("dst")
        elif field.endswith(":ID"):
            out.append(field[: -len(":ID")] or "id")
        else:
            out.append(field.split(":", 1)[0])
    return out


def read_neo4j_export(
    spark, base_path: str, kind: str, name: str,
    mode: str = "DROPMALFORMED",
) -> DataFrame:
    """Read one exported node label / relationship type back: the
    header file supplies the schema (all-string — the header's :type
    suffixes describe neo4j's parse, not ours), the headerless part
    files go through the tolerant CSV reader with the export's exact
    RFC-4180 dialect (escape='\"', multiLine for embedded newlines).

    ``mode`` follows Spark's CSV parse modes; the default keeps the
    tolerant-ingest contract, while the integrity replay passes
    FAILFAST so a structurally malformed row (e.g. a truncated line)
    fails the verification instead of silently vanishing."""
    from .sources import read_csv_tolerant

    with open(f"{base_path}/{kind}/{name}/header.csv") as f:
        cols = _header_cols(f.readline())
    schema = T.StructType([T.StructField(c, T.StringType()) for c in cols])
    return read_csv_tolerant(
        spark,
        f"{base_path}/{kind}/{name}/data",
        schema=schema,
        header=False,
        escape='"',
        multiLine=True,
        mode=mode,
    )


def verify_neo4j_export(spark, base_path: str, manifest: dict) -> dict:
    """Offline integrity check closing the S8 loop without a server:
    replay every exported CSV family back through the tolerant reader
    and re-assert exactly what neo4j-admin would enforce at import time
    — global node-id uniqueness and zero dangling relationship
    endpoints — plus per-family row counts for the caller to compare
    against its source DataFrames. Raises ValueError on any violation
    (the point is to catch a corrupted/hand-edited export BEFORE a
    multi-hour import dies halfway); returns
    {"nodes": {label: count}, "relationships": {rel: count}}.

    ``manifest`` is ``export_neo4j_admin``'s return value (the
    label/type listing — trusting the directory listing instead would
    hide a dropped family)."""
    node_counts: dict[str, int] = {}
    ids = []
    for label in manifest["nodes"]:
        # FAILFAST: verification must SEE malformed rows, not inherit the
        # ingest path's drop-them tolerance; eqNullSafe: a NULL :LABEL
        # (missing trailing column) is a violation, and `!=` is NULL-blind
        df = read_neo4j_export(spark, base_path, "nodes", label,
                               mode="FAILFAST")
        node_counts[label] = _count_foreign(df, "label", label, f"nodes/{label}", ":LABEL")
        ids.append(df.select("id"))
    all_ids = reduce(DataFrame.unionByName, ids).persist() if ids else None
    try:
        if all_ids is not None:
            _check_unique(all_ids.agg(*_unique_aggs("id")).first(), "id", "exported nodes")
        rel_counts: dict[str, int] = {}
        for rel in manifest["relationships"]:
            df = read_neo4j_export(spark, base_path, "relationships", rel,
                                   mode="FAILFAST")
            rel_counts[rel] = _count_foreign(
                df, "rel", rel, f"relationships/{rel}", ":TYPE"
            )
            dangling = _dangling(df, all_ids)
            if dangling:
                endpoint, missing = dangling
                raise ValueError(
                    f"exported relationships/{rel}.{endpoint} references "
                    f"missing node ids (first {len(missing)}): {missing}"
                )
    finally:
        if all_ids is not None:
            all_ids.unpersist()
    return {"nodes": node_counts, "relationships": rel_counts}


def _count_foreign(df: DataFrame, col: str, name: str, family: str, marker: str) -> int:
    """Row count of one exported family, in the same aggregation as the
    check that every row's ``col`` is ``name``."""
    stats = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(~F.col(col).eqNullSafe(F.lit(name)), 1)).alias("foreign"),
    ).first()
    if stats["foreign"]:
        raise ValueError(f"{family}: {stats['foreign']} rows carry a foreign {marker}")
    return stats["n"]
