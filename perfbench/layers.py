"""Per-layer tracing: which public functions get spans, and the per-layer
metrics computed from the spans and Spark's counters.

Layer names are the package's module names. The benchmark opens the spans
around its own calls into ``transforms``, ``io``, ``quality``, the registry
query functions and ``streaming`` (see ``workloads.py``); ``instrument_all``
adds spans around the public functions of the layers those calls reach
indirectly: ``tables``, ``graph.build`` and the corpus ``operators``.
"""

from __future__ import annotations

import importlib
import inspect
import os

from .trace import COUNTERS, instrument, layer_spans
from .workloads import CURATION_SHARED, median

PKG = "research_data_pipeline_spark"
# the corpus operator and registry query modules the session's queries enter
OPERATOR_MODULES = ["text_dedup", "similarity"]
QUERY_MODULES = ["relational", "sampling", "events", "graph_analytics", "docs"]


def _public_functions(module) -> list[str]:
    return [
        name for name, fn in vars(module).items()
        if inspect.isfunction(fn) and not name.startswith("_")
        and fn.__module__ == module.__name__
    ]


def _stage_layer(path: str) -> str:
    """The layer whose plan a ``run_pipeline_checkpointed`` stage runs,
    from the stage's checkpoint directory name."""
    stage = os.path.basename(path.rstrip("/"))
    if stage.startswith("raw_"):
        return "transforms.ingestion"
    if stage == "author":
        return "transforms.author_stats"
    return "transforms.augment"


def instrument_all(tracer):
    """Wrap the public functions of ``tables``, ``graph.build`` and the
    corpus operators, and each checkpointed DAG stage; returns a function
    that undoes it."""
    importlib.import_module(f"{PKG}.registry").all_specs()  # import every query module
    tables = importlib.import_module(f"{PKG}.tables")
    undo = [
        instrument(tracer, tables, ["load"], "tables"),
        # "fired": the input came back repartitioned
        instrument(tracer, tables, ["ensure_parallelism"], "tables",
                   mark=lambda args, out: {"fired": out is not args[0]}),
    ]
    build = importlib.import_module(f"{PKG}.graph.build")
    undo.append(instrument(tracer, build, _public_functions(build), "graph.build"))
    for mod in OPERATOR_MODULES:
        m = importlib.import_module(f"{PKG}.operators.{mod}")
        undo.append(instrument(tracer, m, _public_functions(m), f"operators.{mod}"))

    # a stage's work (plan + write) runs inside compute_or_reuse, which the
    # pipeline imports at call time
    ckpt = importlib.import_module(f"{PKG}.io.checkpoint")
    orig = ckpt.compute_or_reuse

    def stage(spark, path, compute, *args, **kwargs):
        with tracer.span(_stage_layer(path), stage=os.path.basename(path)):
            return orig(spark, path, compute, *args, **kwargs)

    ckpt.compute_or_reuse = stage

    def restore():
        ckpt.compute_or_reuse = orig
        for u in reversed(undo):
            u()

    return restore


def _dir_size(path: str) -> tuple[float, int]:
    """(MB, data files) under ``path``, not counting hidden/marker files."""
    mb, files = 0.0, 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            mb += os.path.getsize(os.path.join(dirpath, n)) / 1e6
            files += 1
    return mb, files


def per_layer(spans: list[dict], passes: list[dict], session_starts: list[float],
              wl, cpus: int) -> dict[str, tuple[float, str]]:
    """Per-layer metrics from the spans of the traced passes, averaged
    per pass (0 where the workload does not enter the layer)."""
    by_id = {s["id"]: s for s in spans}
    traced_roots = [s for s in spans if s["name"] == "pass"]
    n = max(len(traced_roots), 1)

    def outer(prefix):
        return layer_spans(spans, prefix)

    def secs(prefix):
        return sum(s["dur_s"] for s in outer(prefix)) / n

    def incl(prefix, counter):
        return sum(s["incl"][counter] for s in outer(prefix)) / n

    eng = {c: sum(r["incl"][c] for r in traced_roots) / n for c in COUNTERS}
    wall = sum(r["dur_s"] for r in traced_roots) / n
    all_stages = eng["stages"] + eng["stages_skipped"]
    m: dict[str, tuple[float, str]] = {}
    for c in COUNTERS:
        unit = "s" if c.endswith("_s") else "MB" if c.endswith("_mb") else "count"
        m[f"spark.{c}"] = (eng[c], unit)
    m["spark.task_offcpu_s"] = (eng["task_run_s"] - eng["task_cpu_s"], "s")
    m["spark.core_busy_frac"] = (eng["task_run_s"] / (wall * cpus) if wall else 0.0, "ratio")
    m["spark.stage_reuse_frac"] = (
        eng["stages_skipped"] / all_stages if all_stages else 0.0, "ratio")

    m["session.start_s"] = (median(session_starts), "s")

    loads = [s for s in spans if s["name"] == "tables.load"]
    fired = [s for s in spans if s["name"] == "tables.ensure_parallelism" and s.get("fired")]
    m["tables.load_s"] = (sum(s["dur_s"] for s in loads) / n, "s")
    m["tables.load_calls"] = (len(loads) / n, "count")
    m["tables.repartitions"] = (len(fired) / n, "count")

    queries = [s for s in spans if s["name"].startswith("queries.") and "query" in s]
    drains = [s for s in spans if s["name"] == "streaming.drain"]
    plans = [s for s in spans if s["name"] == "queries.plan"
             and by_id[s["parent"]]["name"] != "streaming.drain"]
    execs = [s for s in spans if s["name"] == "queries.exec"
             and by_id[s["parent"]]["name"] != "streaming.drain"]
    m["queries.plan_s"] = (sum(s["dur_s"] for s in plans) / n, "s")
    m["queries.exec_s"] = (sum(s["dur_s"] for s in execs) / n, "s")
    m["queries.jobs_per_query"] = (
        sum(s["incl"]["jobs"] for s in queries) / len(queries) if queries else 0.0, "count")
    for mod in QUERY_MODULES:
        m[f"queries.{mod}.s"] = (
            sum(s["dur_s"] for s in queries if s["module"] == mod) / n, "s")

    m["graph.build.s"] = (secs("graph.build"), "s")
    m["graph.build.jobs"] = (incl("graph.build", "jobs"), "count")

    raw = getattr(wl, "raw_lines", 0)
    ingest_s = secs("transforms.ingestion")
    m["transforms.ingestion.s"] = (ingest_s, "s")
    m["transforms.ingestion.records_per_s"] = (raw / ingest_s if ingest_s else 0.0, "records/s")
    m["transforms.augment.s"] = (secs("transforms.augment"), "s")
    m["transforms.author_stats.s"] = (secs("transforms.author_stats"), "s")
    m["transforms.author_stats.jobs"] = (incl("transforms.author_stats", "jobs"), "count")
    raw_mb = getattr(wl, "raw_mb", 0.0)
    m["etl.raw_reads"] = (
        incl("transforms.ingestion", "input_mb") / raw_mb if raw_mb else 0.0, "ratio")

    sinks = outer("io.sinks")
    written = [_dir_size(s["out"]) for s in sinks]
    m["io.sinks.s"] = (secs("io.sinks"), "s")
    m["io.sinks.mb_written"] = (sum(w[0] for w in written) / n, "MB")
    m["io.sinks.files"] = (sum(w[1] for w in written) / n, "count")
    m["quality.s"] = (secs("quality"), "s")
    exports = outer("io.neo4j_export")
    m["io.neo4j_export.s"] = (secs("io.neo4j_export"), "s")
    m["io.neo4j_export.mb_written"] = (sum(_dir_size(s["out"])[0] for s in exports) / n, "MB")
    m["queries.dwh.s"] = (secs("queries.dwh"), "s")
    m["graph.queries.s"] = (
        sum(s["dur_s"] for s in outer("graph.queries") if s["name"] == "graph.queries") / n, "s")

    for mod in OPERATOR_MODULES:
        m[f"operators.{mod}.s"] = (secs(f"operators.{mod}"), "s")
    for art in CURATION_SHARED:
        m[f"shared.{art}_s"] = (secs(f"shared.{art}"), "s")

    m["streaming.drain_s"] = (sum(s["dur_s"] for s in drains) / n, "s")
    m["streaming.jobs_per_drain"] = (
        sum(s["incl"]["jobs"] for s in drains) / len(drains) if drains else 0.0, "count")

    t_traced = median([p["pass_s"] for p in passes if p["traced"]])
    t_plain = median([p["pass_s"] for p in passes[1:] if not p["traced"]])
    m["trace.overhead_s"] = (t_traced - t_plain, "s")
    return m
