"""Per-layer tracing for the traced benchmark run.

Spans are recorded from the benchmark's own files: :class:`Tracer`
wraps public functions of the engine's modules for the duration of a
traced pass and restores them afterwards; nothing in the engine is
edited. Each span carries a name, start, end, parent and thread. While a
span is open its id is set as the Spark local property
``perfbench.span`` and in the job description, so every Spark job it
launches can be joined back to it from the event log. Engine pool
threads (``ParquetStateStore.append_many``) copy the caller's job
description into their own threads; that copy is what attributes their
jobs. Spans stay in memory and are written out once, at the end of the
run.

After the SparkContext stops, :func:`read_event_log` reads the jobs,
stages and tasks and :func:`layer_metrics` folds them into
``<module>.<function>.<stat>`` numbers. ``wall_s`` and ``driver_s``
include child spans; ``jobs``, ``tasks``, ``task_s``, ``shuffle_mb`` and
``spill_mb`` count only the jobs a span launched itself (its innermost
open span), so they add up across spans without double counting. A lazy
builder launches no job: its span carries only ``driver_s``, and the
execution it describes lands on the span of the call that runs the
action (a state write or a collect).
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import json
import re
import sys
import threading
import time

PKG = "automated_datastore_discovery_with_aws_glue_spark"
SPAN_PROP = "perfbench.span"
DESC_PROP = "spark.job.description"
_DESC_RE = re.compile(r"perfbench-span (\d+)")

#: span name -> (module under the engine package, attribute path)
TARGETS = {
    "state.store.read": ("state.store", "ParquetStateStore.read"),
    "state.store.merge": ("state.store", "ParquetStateStore.merge"),
    "state.store.append": ("state.store", "ParquetStateStore.append"),
    "state.store.append_many": ("state.store", "ParquetStateStore.append_many"),
    "state.store.replace_partitions": ("state.store", "ParquetStateStore.replace_partitions"),
    "state.commit.commit": ("state.commit", "PosixCommitBackend.commit"),
    "catalog.engine.register_pending": ("catalog.engine", "DiscoveryEngine.register_pending"),
    "catalog.engine.classify_pending": ("catalog.engine", "DiscoveryEngine.classify_pending"),
    "catalog.engine.publish_findings": ("catalog.engine", "DiscoveryEngine.publish_findings"),
    "catalog.engine.tag_report": ("catalog.engine", "DiscoveryEngine.tag_report"),
    "catalog.engine.recrawl": ("catalog.engine", "DiscoveryEngine.recrawl"),
    "sources.readers.read_csv_source": ("sources.readers", "read_csv_source"),
    "sources.readers.read_json_items": ("sources.readers", "read_json_items"),
    "operators.classify.classify_columns_counts": ("operators.classify", "classify_columns_counts"),
    "operators.classify.classification_from_counts": ("operators.classify", "classification_from_counts"),
    "operators.classify.build_findings": ("operators.classify", "build_findings"),
    "operators.dedup.minhash_lsh_pairs": ("operators.dedup", "minhash_lsh_pairs"),
    "operators.dedup.dedup_canonical": ("operators.dedup", "dedup_canonical"),
    "plans.incremental.CorpusDedupIndex.ingest": ("plans.incremental", "CorpusDedupIndex.ingest"),
    "plans.incremental.CorpusDedupIndex.kept_ids": ("plans.incremental", "CorpusDedupIndex.kept_ids"),
    "operators.cache.release": ("operators.cache", "release"),
}

_ALL = ("calls", "wall_s", "driver_s", "jobs", "tasks", "task_s", "shuffle_mb", "spill_mb")
_EXEC = _ALL[:6]
_LAZY = ("calls", "driver_s")

#: span name -> the stats reported for it. Spans that launch Spark jobs
#: get the execution stats; lazy builders only their driver time;
#: shuffle and spill only where the layer shuffles or writes.
REPORTED = {
    "state.store.merge": _ALL,
    "state.store.append_many": _ALL,
    "catalog.engine.classify_pending": _ALL,
    "operators.dedup.minhash_lsh_pairs": _LAZY,
    "operators.dedup.dedup_canonical": _ALL,
    "plans.incremental.CorpusDedupIndex.ingest": _ALL,
    "state.store.append": _EXEC,
    "state.store.replace_partitions": _EXEC,
    "catalog.lookup": _EXEC,
    "perfbench.collect": _EXEC,
    "catalog.engine.register_pending": _EXEC,
    "catalog.engine.publish_findings": _EXEC,
    "catalog.engine.tag_report": _EXEC,
    "catalog.engine.recrawl": _EXEC,
    "sources.readers.read_csv_source": _EXEC,
    "sources.readers.read_json_items": _EXEC,
    "state.store.read": ("calls", "wall_s", "hit_ratio"),
    "state.commit.commit": ("calls", "wall_s"),
    "operators.classify.classify_columns_counts": _LAZY,
    "operators.classify.classification_from_counts": _LAZY,
    "operators.classify.build_findings": _LAZY,
    "plans.incremental.CorpusDedupIndex.kept_ids": _LAZY,
    "operators.cache.release": _LAZY,
    "session.get_spark": ("wall_s",),
    "perfbench.warmup": ("wall_s", "jobs"),
}
UNITS = {
    "calls": "count",
    "jobs": "count",
    "tasks": "count",
    "wall_s": "s",
    "driver_s": "s",
    "task_s": "s",
    "shuffle_mb": "MB",
    "spill_mb": "MB",
    "hit_ratio": "ratio",
}


def metric_names() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in report order."""
    out = [(f"{span}.{stat}", UNITS[stat]) for span, stats in REPORTED.items() for stat in stats]
    out.append(("trace.overhead_ratio", "ratio"))
    out.append(("trace.pool_thread_jobs", "count"))
    out.append(("trace.unattributed_jobs", "count"))
    return out


class Tracer:
    """Records spans around engine calls. ``install`` swaps the
    :data:`TARGETS` for recording wrappers; ``uninstall`` restores the
    originals. :meth:`span` opens a span from the benchmark itself."""

    def __init__(self, sc):
        self._sc = sc
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0
        self.spans: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []
        self._returned_reads: dict[int, object] = {}

    def _new_id(self) -> int:
        with self._lock:
            self._next += 1
            return self._next

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _parent(self) -> int | None:
        stack = self._stack()
        if stack:
            return stack[-1]
        # a pool thread inherits no Python stack; the engine copies the
        # caller's job description into it, which names the open span
        m = _DESC_RE.search(self._sc.getLocalProperty(DESC_PROP) or "")
        return int(m.group(1)) if m else None

    @contextlib.contextmanager
    def span(self, name: str):
        """Open a span in this thread; jobs launched inside carry its id."""
        sid = self._new_id()
        rec = {"id": sid, "name": name, "parent": self._parent(), "thread": threading.get_ident()}
        prev = (self._sc.getLocalProperty(SPAN_PROP), self._sc.getLocalProperty(DESC_PROP))
        self._sc.setLocalProperty(SPAN_PROP, str(sid))
        self._sc.setLocalProperty(DESC_PROP, f"perfbench-span {sid}")
        self._stack().append(sid)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack().pop()
            self._sc.setLocalProperty(SPAN_PROP, prev[0])
            self._sc.setLocalProperty(DESC_PROP, prev[1])
            with self._lock:
                self.spans.append(rec)

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name) as rec:
                result = fn(*args, **kwargs)
            if name == "state.store.read":
                # a hit returns a frame some earlier read already returned
                rec["hit"] = id(result) in tracer._returned_reads
                tracer._returned_reads[id(result)] = result
            return result

        return traced

    def install(self) -> None:
        for name, (mod_name, attr) in TARGETS.items():
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            owner_name, _, fn_name = attr.rpartition(".")
            owner = getattr(mod, owner_name) if owner_name else mod
            original = getattr(owner, fn_name)
            wrapped = self._wrap(name, original)
            self._patch(owner, fn_name, wrapped)
            if not owner_name:
                # modules that imported the function by name hold their
                # own binding; rebind those too
                for other in list(sys.modules.values()):
                    if (
                        other is not mod
                        and getattr(other, "__name__", "").startswith(PKG)
                        and getattr(other, fn_name, None) is original
                    ):
                        self._patch(other, fn_name, wrapped)

    def _patch(self, owner, attr: str, value) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in sorted(self.spans, key=lambda r: r["start"]):
                fh.write(json.dumps(rec) + "\n")


# -- event log ---------------------------------------------------------------


def _span_of(props: dict) -> tuple[int | None, str | None]:
    if props.get(SPAN_PROP):
        return int(props[SPAN_PROP]), "property"
    m = _DESC_RE.search(props.get(DESC_PROP) or "")
    if m:
        return int(m.group(1)), "description"
    return None, None


def read_event_log(log_dir: str) -> list[dict]:
    """Jobs of the (stopped) application whose event log is in
    ``log_dir``: id, submit/end (epoch seconds), the span the job's
    properties name (and how), and its tasks' totals."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    # Spark 4 writes event log v2: a directory of rolled event files
    for path in sorted(glob.glob(f"{log_dir}/**/events_*", recursive=True)):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    span, via = _span_of(ev.get("Properties") or {})
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "id": jid,
                        "submit": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "span": span,
                        "via": via,
                        "tasks": 0,
                        "task_s": 0.0,
                        "shuffle_b": 0,
                        "spill_b": 0,
                    }
                    # a shuffle stage a later job reuses is skipped there:
                    # its tasks ran for the first job that listed it
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                    m = ev.get("Task Metrics")
                    if job is None or not m:
                        continue
                    job["tasks"] += 1
                    job["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    job["shuffle_b"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    job["spill_b"] += m.get("Disk Bytes Spilled", 0)
    for job in jobs.values():
        if job["end"] is None:
            job["end"] = job["submit"]
    return sorted(jobs.values(), key=lambda j: j["submit"])


def attribute(spans: list[dict], jobs: list[dict]) -> None:
    """Give every job a span: its own properties first; a job launched
    outside any tagged thread falls back to the innermost span whose
    interval holds its submission."""
    ids = {s["id"] for s in spans}
    for job in jobs:
        if job["span"] in ids:
            continue
        job["span"], job["via"] = None, None
        inner = None
        for s in spans:
            if s["start"] <= job["submit"] <= s["end"] and (inner is None or s["start"] >= inner["start"]):
                inner = s
        if inner is not None:
            job["span"], job["via"] = inner["id"], "time"


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def layer_metrics(spans: list[dict], jobs: list[dict]) -> dict[str, float]:
    """Fold spans and their attributed jobs into per-layer numbers (all
    :data:`REPORTED` names; spans that never ran read 0)."""
    children: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s["id"])
    own: dict[int, list[dict]] = {}
    for job in jobs:
        if job["span"] is not None:
            own.setdefault(job["span"], []).append(job)

    def subtree_jobs(sid: int) -> list[dict]:
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.extend(own.get(cur, []))
            todo.extend(children.get(cur, []))
        return out

    agg: dict[str, dict[str, float]] = {
        name: {"calls": 0, "wall_s": 0.0, "driver_s": 0.0, "jobs": 0, "tasks": 0, "task_s": 0.0,
               "shuffle_mb": 0.0, "spill_mb": 0.0, "hits": 0}
        for name in REPORTED
    }
    for s in spans:
        a = agg.get(s["name"])
        if a is None:
            continue
        wall = s["end"] - s["start"]
        covered = _covered([(j["submit"], j["end"]) for j in subtree_jobs(s["id"])], s["start"], s["end"])
        a["calls"] += 1
        a["wall_s"] += wall
        a["driver_s"] += wall - covered
        a["hits"] += 1 if s.get("hit") else 0
        for j in own.get(s["id"], []):
            a["jobs"] += 1
            a["tasks"] += j["tasks"]
            a["task_s"] += j["task_s"]
            a["shuffle_mb"] += j["shuffle_b"] / 1e6
            a["spill_mb"] += j["spill_b"] / 1e6
    out: dict[str, float] = {}
    for name, stats in REPORTED.items():
        a = agg[name]
        a["hit_ratio"] = a["hits"] / a["calls"] if a["calls"] else 0.0
        for stat in stats:
            out[f"{name}.{stat}"] = a[stat]
    return out
