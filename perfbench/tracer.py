"""Span tracer and Spark status-store counters for the traced run.

``Tracer.install()`` wraps the engine's public functions by replacing
module and class attributes at run time (nothing under ``sparketl/`` is
edited), so nested calls become child spans. Spans live in memory and
are written once, when the run ends. Spark jobs are attributed to the
innermost span open at their submission time.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import threading
import time

# (module, attribute or Class.method, span name)
WRAPPED = [
    ("sparketl.session", "get_spark", "session.get_spark"),
    ("sparketl.io", "load_tables", "io.load_tables"),
    ("sparketl.dialect", "transpile", "dialect.transpile"),
    ("sparketl.dialect", "parse_merge", "dialect.parse_merge"),
    ("sparketl.engine", "Engine.execute", "engine.execute"),
    ("sparketl.engine", "Engine.preview", "engine.preview"),
    ("sparketl.catalog", "Catalog.databases", "catalog.call"),
    ("sparketl.catalog", "Catalog.tables", "catalog.call"),
    ("sparketl.catalog", "Catalog.table_design", "catalog.call"),
    ("sparketl.catalog", "Catalog.primary_keys", "catalog.call"),
    ("sparketl.reports", "report_data", "reports.report_data"),
    ("sparketl.ingest", "ingest_append", "ingest.append"),
    ("sparketl.ingest", "ingest_update", "ingest.update"),
    ("sparketl.tables", "ManagedTable.append", "tables.append"),
    ("sparketl.tables", "ManagedTable.upsert", "tables.upsert"),
    ("sparketl.tables", "ManagedTable.keyed_update", "tables.keyed_update"),
    ("sparketl.tables", "MergeBuilder.execute", "tables.merge"),
    ("sparketl.tables", "ManagedTable.delete_where", "tables.delete"),
    ("sparketl.tables", "ManagedTable.compact", "tables.compact"),
    ("sparketl.tables", "ManagedTable.vacuum", "tables.vacuum"),
    ("sparketl.tables", "ManagedTable.read", "tables.read"),
    ("sparketl.streaming.stateful", "stage_event_chunks", "streaming.stage"),
    ("sparketl.streaming.stateful", "read_staged_stream", "streaming.read_staged"),
    ("sparketl.operators.curation", "cdc_rank_apply_batch", "ivm.apply"),
]

COUNTERS = ("jobs", "tasks", "task_s", "gc_s", "shuffle_write_bytes", "scan_bytes", "spill_bytes")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._op = None
        self._undo: list = []
        self._next_job = 0
        self._seen_stages: set[int] = set()
        self.jobs: list[dict] = []

    # -- spans ---------------------------------------------------------------
    def set_op(self, op_id) -> None:
        self._op = op_id

    @contextlib.contextmanager
    def span(self, name: str):
        with self._lock:
            idx = len(self.spans)
            self.spans.append({
                "name": name, "parent": self._stack[-1] if self._stack else None,
                "op": self._op, "start": time.time(), "end": None,
            })
            self._stack.append(idx)
        try:
            yield
        finally:
            with self._lock:
                self.spans[idx]["end"] = time.time()
                self._stack.remove(idx)

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        wrapper.__perfbench_wrapped__ = fn
        return wrapper

    def install(self) -> None:
        """Replace every WRAPPED function, and every module-level alias of
        it (``from x import f`` copies), with a span-recording wrapper."""
        import importlib

        for mod_name, attr, span_name in WRAPPED:
            mod = importlib.import_module(mod_name)
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                orig = cls.__dict__[meth]
                setattr(cls, meth, self._wrap(orig, span_name))
                self._undo.append((cls, meth, orig))
                continue
            orig = getattr(mod, attr)
            wrapped = self._wrap(orig, span_name)
            for m in list(sys.modules.values()):
                if m is None or not getattr(m, "__name__", "").startswith("sparketl"):
                    continue
                if getattr(m, attr, None) is orig:
                    setattr(m, attr, wrapped)
                    self._undo.append((m, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # -- Spark status store ----------------------------------------------------
    def mark_jobs(self, spark) -> None:
        """Skip every job submitted so far (they belong to set-up)."""
        store = spark.sparkContext._jsc.sc().statusStore()
        while True:
            try:
                store.job(self._next_job)
            except Exception:  # noqa: BLE001 - no such job yet
                return
            self._next_job += 1

    def harvest_jobs(self, spark) -> None:
        """Record every job submitted since the last harvest, with its
        stage totals (a stage counts once, in the first job that ran it)."""
        store = spark.sparkContext._jsc.sc().statusStore()
        while True:
            try:
                job = store.job(self._next_job)
            except Exception:  # noqa: BLE001 - no more jobs
                return
            self._next_job += 1
            sub = job.submissionTime()
            rec = {"id": job.jobId(), "time": sub.get().getTime() / 1000.0 if sub.isDefined() else None}
            rec.update({c: 0 for c in COUNTERS})
            rec["jobs"] = 1
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                if sid in self._seen_stages:
                    continue
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - skipped stage never ran
                    continue
                if st.numCompleteTasks() == 0:
                    continue
                self._seen_stages.add(sid)
                rec["tasks"] += st.numCompleteTasks()
                rec["task_s"] += st.executorRunTime() / 1000.0
                rec["gc_s"] += st.jvmGcTime() / 1000.0
                rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
                rec["scan_bytes"] += st.inputBytes()
                rec["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            self.jobs.append(rec)

    # -- analysis --------------------------------------------------------------
    def attribute_jobs(self) -> None:
        """Attach each job's counters to the innermost span that was open
        when the job was submitted (``self_counters``)."""
        for s in self.spans:
            s["self_counters"] = {c: 0 for c in COUNTERS}
        for job in self.jobs:
            t = job["time"]
            best = None
            for i, s in enumerate(self.spans):
                if t is None or s["end"] is None or not (s["start"] <= t <= s["end"]):
                    continue
                if best is None or s["start"] >= self.spans[best]["start"]:
                    best = i
            if best is not None:
                for c in COUNTERS:
                    self.spans[best]["self_counters"][c] += job[c]

    def dump(self, path: str, **meta) -> None:
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": self.spans, "jobs": self.jobs}, f)


def children(spans: list[dict]) -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        if s["parent"] is not None:
            out.setdefault(s["parent"], []).append(i)
    return out


def span_tables(spans: list[dict]) -> dict[int, dict]:
    """Per span: inclusive and self wall seconds, inclusive counters."""
    kids = children(spans)
    out: dict[int, dict] = {}

    def visit(i: int) -> dict:
        if i in out:
            return out[i]
        s = spans[i]
        dur = (s["end"] or s["start"]) - s["start"]
        inc = dict(s.get("self_counters") or {c: 0 for c in COUNTERS})
        child_time = 0.0
        for k in kids.get(i, []):
            r = visit(k)
            child_time += r["wall"]
            for c in COUNTERS:
                inc[c] += r["counters"][c]
        out[i] = {"wall": dur, "self": max(0.0, dur - child_time), "counters": inc}
        return out[i]

    for i in range(len(spans)):
        visit(i)
    return out
