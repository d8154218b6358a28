"""Spans at layer boundaries plus Spark's own counters, read from outside.

A span is recorded around each call the benchmark makes into a layer and
around the public functions ``instrument`` wraps (see ``layers.py``). Spans live in memory and
are written out when the run ends. Spark jobs are attributed to the
innermost span that was open when they were submitted: the span's id is
the job group of the calling thread, and jobs submitted from other threads
(streaming micro-batches) fall back to the span whose interval holds
their submission time. Stage counters then roll up from jobs to spans.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import sys
import time
import uuid

_GROUP_PREFIX = "perfbench-span-"

COUNTERS = (
    "jobs", "stages", "stages_skipped", "tasks", "tasks_failed", "task_run_s",
    "task_cpu_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
    "input_mb",
)


class Tracer:
    """Closed-loop span recorder; a disabled tracer records nothing."""

    def __init__(self, sc=None):
        self.sc = sc
        self.enabled = False
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "run": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(), "end": None, **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, sid: int | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(
                "spark.jobGroup.id", None if sid is None else f"{_GROUP_PREFIX}{sid}"
            )

    def wrap(self, name: str, fn, mark=None):
        """``fn`` inside a span; ``mark(args, result)`` may return extra
        attributes for the span."""
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if rec is not None and mark is not None:
                    rec.update(mark(args, out))
                return out

        return traced


def instrument(tracer: Tracer, module, names: list[str], layer: str, mark=None):
    """Wrap ``module.<name>`` for each name, also where another module of
    the package imported it by value; returns a function that undoes it."""
    package = module.__name__.split(".")[0]
    undo = []
    for name in names:
        orig = getattr(module, name)
        wrapped = tracer.wrap(f"{layer}.{name}", orig, mark)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(package):
                continue
            for attr, value in list(vars(mod).items()):
                if value is orig:
                    setattr(mod, attr, wrapped)
                    undo.append((mod, attr, orig))

    def restore():
        for mod, attr, orig in undo:
            setattr(mod, attr, orig)

    return restore


def _opt(scala_option):
    return scala_option.get() if scala_option.isDefined() else None


def _items(sc, scala_seq) -> list:
    return list(sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_seq))


def spark_counters(sc, spans: list[dict]) -> dict[int, dict[str, float]]:
    """Per-span counters of the jobs attributed directly to each span."""
    store = sc._jsc.sc().statusStore()
    by_start = sorted(spans, key=lambda s: s["start"])
    ids = {s["id"] for s in spans}
    job_span: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    out = {s["id"]: dict.fromkeys(COUNTERS, 0.0) for s in spans}
    for job in _items(sc, store.jobsList(None)):
        group = _opt(job.jobGroup())
        sid = None
        if group and group.startswith(_GROUP_PREFIX):
            sid = int(group[len(_GROUP_PREFIX):])
            sid = sid if sid in ids else None
        if sid is None:
            submitted = _opt(job.submissionTime())
            t = submitted.getTime() / 1000.0 if submitted is not None else None
            for s in by_start:  # innermost = latest-starting span holding t
                if t is not None and s["start"] <= t <= s["end"]:
                    sid = s["id"]
        if sid is None:
            continue
        job_id = job.jobId()
        job_span[job_id] = sid
        out[sid]["jobs"] += 1
        for stage_id in _items(sc, job.stageIds()):
            stage_job.setdefault(stage_id, job_id)
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    stages = store.stageList(None, False, False, no_quantiles, None)
    for st in _items(sc, stages):
        job_id = stage_job.get(st.stageId())
        if job_id is None:
            continue
        c = out[job_span[job_id]]
        if str(st.status()) == "SKIPPED":
            c["stages_skipped"] += 1
            continue
        c["stages"] += 1
        c["tasks"] += st.numTasks()
        c["tasks_failed"] += st.numFailedTasks()
        c["task_run_s"] += st.executorRunTime() / 1e3
        c["task_cpu_s"] += st.executorCpuTime() / 1e9
        c["gc_s"] += st.jvmGcTime() / 1e3
        c["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
        c["shuffle_read_mb"] += st.shuffleReadBytes() / 1e6
        c["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
        c["input_mb"] += st.inputBytes() / 1e6
    return out


def attach_counters(sc, spans: list[dict]) -> None:
    """Store on each span its own counters, its inclusive counters (own
    plus descendants') and its self time (duration minus the part of its
    interval that child spans cover)."""
    own = spark_counters(sc, spans)
    children: dict[int | None, list[dict]] = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    for s in reversed(spans):  # children have larger ids than parents
        incl = dict(own[s["id"]])
        covered = 0.0
        for ch in children.get(s["id"], []):
            for k, v in ch["incl"].items():
                incl[k] += v
            covered += ch["end"] - ch["start"]
        s["own"] = own[s["id"]]
        s["incl"] = incl
        s["dur_s"] = s["end"] - s["start"]
        s["self_s"] = max(0.0, s["dur_s"] - covered)


def layer_spans(spans: list[dict], prefix: str) -> list[dict]:
    """Outermost spans named ``prefix`` or ``prefix.*``: a matching span
    nested inside another matching span is not returned twice."""
    def match(s):
        return s["name"] == prefix or s["name"].startswith(prefix + ".")

    by_id = {s["id"]: s for s in spans}
    out = []
    for s in spans:
        if not match(s):
            continue
        p = s["parent"]
        while p is not None and not match(by_id[p]):
            p = by_id[p]["parent"]
        if p is None:
            out.append(s)
    return out


def write_spans(path: str, spans: list[dict], summary: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(json.dumps({"summary": summary}) + "\n")
        for s in spans:
            f.write(json.dumps(s) + "\n")


def peak_rss_mb() -> float:
    """Peak RSS (VmHWM) of this process plus its direct children — the
    JVM that PySpark launches; its Python workers are not counted."""
    me = os.getpid()
    pids = [me]
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == me:
            pids.append(int(entry))
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0
