"""Span tracer for the traced benchmark run.

Spans are recorded from the benchmark's side only: the public functions
of each layer are wrapped at module (or class) level, so a call into a
layer opens a span named after the layer's module. Each span sets its own
Spark job group for the duration of the call, which charges every job
submitted while it is the innermost open span to that span; the job,
stage and task counts are read back from ``sc.statusTracker()`` once the
run is over. Setting a job group is a local property, not an action, so
a traced run submits exactly the jobs an untraced run does.

Lazy DataFrame work is charged to whichever span is open when an action
executes it (usually the ``api.index`` / ``api.collect`` span around it).
"""

from __future__ import annotations

import functools
import itertools
import sys
import threading
import time
from contextlib import contextmanager

GROUP_PROP = "spark.jobGroup.id"

# layer name -> (module, attribute names); a name "Class.method" wraps a
# method. Only layers that a declared workload calls are listed: the parse,
# resolve, chunk and watch layers run only when files change, and a
# one-file reindex costs more than a benchmark run may take.
LAYER_FUNCTIONS = {
    "sources.files": ("claude_code_memory_spark.sources.files",
                      ["scan_project", "diff_against_state"]),
    "embeddings.bm25": ("claude_code_memory_spark.embeddings.bm25",
                        ["fit", "transform", "query_terms"]),
    "embeddings.hash_embedder": ("claude_code_memory_spark.embeddings.hash_embedder",
                                 ["embed_text", "hash_embedder_udf"]),
    "plans.incremental": ("claude_code_memory_spark.plans.incremental",
                          ["merge_replace_by_file", "TableStore.read", "TableStore.write",
                           "TableStore.vacuum"]),
    "operators.topk": ("claude_code_memory_spark.operators.topk",
                       ["dense_topk", "sparse_topk", "sparse_topk_postings", "rrf_fuse",
                        "build_postings"]),
    "operators.similarity": ("claude_code_memory_spark.operators.similarity",
                             ["ivf_build", "ivf_topk"]),
    "api.index": ("claude_code_memory_spark.api", ["CodeMemoryEngine.index"]),
    "api.search": ("claude_code_memory_spark.api", ["CodeMemoryEngine.search"]),
}
# api.collect spans are opened by the workloads around each result collect
LAYERS = [*LAYER_FUNCTIONS, "api.collect"]
LAYER_FIELDS = {"calls": "count", "wall_s": "s", "self_s": "s",
                "jobs": "count", "stages": "count", "tasks": "count"}


def jobs_submitted(sc) -> int:
    """Number of Spark jobs submitted so far in this context (the DAG
    scheduler's next job id); a driver call, not an action."""
    n = sc._jsc.sc().dagScheduler().nextJobId()
    return n if isinstance(n, int) else n.get()


class Tracer:
    """Collects spans in memory; ``enabled=False`` makes every span a no-op."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = next(self._ids)
        rec = {"id": sid, "layer": layer, "name": name,
               "parent": stack[-1]["id"] if stack else None,
               "thread": threading.current_thread().name,
               "group": f"perfbench-{sid}", "start": time.perf_counter()}
        prev = self.sc.getLocalProperty(GROUP_PROP)
        self.sc.setLocalProperty(GROUP_PROP, rec["group"])
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(GROUP_PROP, prev)
            with self._lock:
                self.spans.append(rec)

    def wrap(self, layer: str, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, name):
                return fn(*args, **kwargs)

        return traced

    def _patch(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def install(self) -> None:
        """Wrap every function in LAYER_FUNCTIONS, in its defining module
        and in every program module that imported it by name."""
        if not self.enabled:
            return
        import importlib

        for layer, (modname, names) in LAYER_FUNCTIONS.items():
            mod = importlib.import_module(modname)
            for name in names:
                if "." in name:
                    cls_name, meth = name.split(".")
                    cls = getattr(mod, cls_name)
                    self._patch(cls, meth, self.wrap(layer, meth, cls.__dict__[meth]))
                    continue
                orig = getattr(mod, name)
                new = self.wrap(layer, name, orig)
                for other in list(sys.modules.values()):
                    if (getattr(other, "__name__", "").startswith("claude_code_memory_spark")
                            and other.__dict__.get(name) is orig):
                        self._patch(other, name, new)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, old = self._undo.pop()
            setattr(owner, attr, old)

    # -- read-back -------------------------------------------------------

    def spark_counts(self) -> None:
        """Attach jobs/stages/tasks to every span from the status tracker."""
        st = self.sc.statusTracker()
        for rec in self.spans:
            jobs = st.getJobIdsForGroup(rec["group"])
            stages = set()
            for jid in jobs:
                info = st.getJobInfo(jid)
                if info is not None:
                    stages.update(int(s) for s in info.stageIds)
            n_stages = n_tasks = 0
            for sid in stages:
                si = st.getStageInfo(sid)
                if si is not None and si.numCompletedTasks + si.numFailedTasks > 0:
                    n_stages += 1
                    n_tasks += si.numCompletedTasks + si.numFailedTasks
            rec.update(jobs=len(jobs), stages=n_stages, tasks=n_tasks)

    def layer_metrics(self) -> dict[str, float]:
        """Per layer: calls, wall_s (outermost spans of the layer only),
        self_s (span time not covered by child spans), jobs/stages/tasks
        (charged to the innermost open span)."""
        by_id = {r["id"]: r for r in self.spans}
        child_time: dict[int, float] = {}
        for r in self.spans:
            if r["parent"] is not None:
                child_time[r["parent"]] = child_time.get(r["parent"], 0.0) + r["end"] - r["start"]
        out = {f"{layer}.{f}": 0.0 for layer in LAYERS for f in LAYER_FIELDS}
        for r in self.spans:
            layer, dur = r["layer"], r["end"] - r["start"]
            out[f"{layer}.calls"] += 1
            p, nested = r["parent"], False
            while p is not None:
                if by_id[p]["layer"] == layer:
                    nested = True
                    break
                p = by_id[p]["parent"]
            if not nested:
                out[f"{layer}.wall_s"] += dur
            out[f"{layer}.self_s"] += dur - child_time.get(r["id"], 0.0)
            for f in ("jobs", "stages", "tasks"):
                out[f"{layer}.{f}"] += r.get(f, 0)
        return out

    def dump(self) -> list[dict]:
        return sorted(self.spans, key=lambda r: r["start"])
