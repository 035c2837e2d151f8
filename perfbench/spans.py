"""Span tracer for the benchmark's traced pass.

Spans are recorded from the benchmark's side of the package boundary: while
:meth:`Tracer.patched` is active, every public function of the layer modules
in :data:`LAYER_MODULES` and ``checkpoint.Snapshotter.stage`` is replaced by a
wrapper that opens a span, sets a Spark job group named after it, calls the
original and materializes any DataFrame it returns (``persist`` + ``count``)
before the span closes. Spark is lazy, so without that last step a span would
time plan construction and the work would land in whichever later span runs
the first action. A call into the layer that is already innermost passes
straight through, so a layer's internal helpers do not add spans or
materializations of their own.

After the pass, :meth:`Tracer.counters` reads Spark's counters for each span's
job group from the driver's status store (it works with the UI disabled).
Every stage is credited once, to the first job that ran it.

Spans stay in memory until :meth:`Tracer.dump` writes them out.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import statistics
import time

from pyspark import StorageLevel
from pyspark.sql import DataFrame

from osmnetfusion_spark import checkpoint
from osmnetfusion_spark.operators import spatial
from osmnetfusion_spark.plans import enrich, merge, pages, simplify, tiles

#: Layer name -> module whose public functions are traced.
LAYER_MODULES = {
    "enrich": enrich,
    "simplify": simplify,
    "merge": merge,
    "pages": pages,
    "spatial": spatial,
    "tiles": tiles,
}

#: Layers whose Spark counters are reported (``<layer>.<counter>``).
COUNTER_LAYERS = ("enrich", "simplify", "merge", "pages", "spatial", "tiles", "checkpoint")
COUNTERS = ("jobs", "stages", "tasks", "cpu_s", "gc_s", "shuffle_write_mb", "spill_mb", "failed_tasks")

_MB = float(1 << 20)


def _dataframes(out) -> list[DataFrame]:
    if isinstance(out, DataFrame):
        return [out]
    if isinstance(out, (tuple, list)):
        return [o for o in out if isinstance(o, DataFrame)]
    return []


class Tracer:
    """Spans (name, layer, start, end, parent, run id) of one benchmark run."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._persisted: list[DataFrame] = []
        self._seen_stages: set[int] = set()

    # ------------------------------------------------------------ spans
    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": len(self.spans), "run": self.run_id, "name": name, "layer": layer,
            "parent": parent["id"] if parent else None,
            "start": time.perf_counter(), "end": None,
        }
        sp["group"] = f"perfbench-{self.run_id}-{sp['id']}"
        self.spans.append(sp)
        self._stack.append(sp)
        sc = self.spark.sparkContext
        sc.setJobGroup(sp["group"], name)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                sc._jsc.clearJobGroup()

    def record(self, name: str, layer: str, start: float, end: float) -> None:
        """Add a finished top-level span timed by the caller (set-up steps
        that run before the session exists)."""
        self.spans.append({
            "id": len(self.spans), "run": self.run_id, "name": name, "layer": layer,
            "parent": None, "start": start, "end": end, "group": None,
        })

    def _call(self, layer: str, name: str, fn, args, kwargs):
        if self._stack and self._stack[-1]["layer"] == layer:
            return fn(*args, **kwargs)
        with self.span(name, layer):
            out = fn(*args, **kwargs)
            for df in _dataframes(out):
                df.persist(StorageLevel.MEMORY_AND_DISK)
                df.count()
                self._persisted.append(df)
            return out

    def _wrap(self, layer: str, fn):
        name = f"{layer}.{fn.__name__}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self._call(layer, name, fn, args, kwargs)

        return traced

    @contextlib.contextmanager
    def patched(self):
        """Trace the layer modules for the duration of the block."""
        saved = []
        for layer, mod in LAYER_MODULES.items():
            for attr, fn in list(vars(mod).items()):
                if attr.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != mod.__name__:
                    continue
                saved.append((mod, attr, fn))
                setattr(mod, attr, self._wrap(layer, fn))
        stage = checkpoint.Snapshotter.stage

        def traced_stage(snap, name, df_fn, lineage_key=None):
            kind = "read" if snap.is_done(name) else "write"
            return self._call("checkpoint", f"checkpoint.{kind}", stage, (snap, name, df_fn, lineage_key), {})

        saved.append((checkpoint.Snapshotter, "stage", stage))
        checkpoint.Snapshotter.stage = traced_stage
        try:
            yield self
        finally:
            for owner, attr, fn in saved:
                setattr(owner, attr, fn)
            for df in self._persisted:
                df.unpersist()
            self._persisted.clear()

    # ------------------------------------------------------------ analysis
    def children(self, sp: dict) -> list[dict]:
        return [c for c in self.spans if c["parent"] == sp["id"]]

    def self_time(self, sp: dict) -> float:
        dur = sp["end"] - sp["start"]
        return dur - sum(c["end"] - c["start"] for c in self.children(sp))

    def subtree(self, sp: dict) -> list[dict]:
        out, todo = [], [sp]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def layer_self_s(self, root: dict) -> dict[str, float]:
        """Self time per layer over ``root``'s subtree (``root`` excluded)."""
        acc: dict[str, float] = {}
        for s in self.subtree(root):
            if s is not root:
                acc[s["layer"]] = acc.get(s["layer"], 0.0) + self.self_time(s)
        return acc

    def inclusive_s(self, root: dict, name: str) -> float:
        """Summed wall time of spans called ``name`` under ``root``."""
        return sum(s["end"] - s["start"] for s in self.subtree(root) if s["name"] == name)

    def counters(self, root: dict) -> dict[str, dict[str, float]]:
        """Spark status-store counters per layer over ``root``'s subtree.

        Each span's counters are stored on it (``span["spark"]``); a
        ``task_skew`` entry holds max/median task run time in the span's
        stage with the most task time.
        """
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc._jsc.statusTracker()
        gw = sc._gateway
        no_status = gw.jvm.java.util.ArrayList()
        no_quantiles = gw.new_array(gw.jvm.double, 0)

        spans = self.subtree(root)
        jobs = sorted(
            (jid, sp) for sp in spans for jid in tracker.getJobIdsForGroup(sp["group"])
        )
        for sp in spans:
            sp["spark"] = dict.fromkeys(COUNTERS, 0.0)
            sp["spark"]["heaviest_stage_run_ms"] = 0.0
        for jid, sp in jobs:
            c = sp["spark"]
            c["jobs"] += 1
            sids = store.job(jid).stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in self._seen_stages:
                    continue
                attempts = store.stageData(sid, False, no_status, False, no_quantiles)
                for a in range(attempts.size()):
                    st = attempts.apply(a)
                    if st.status().toString() == "SKIPPED":
                        continue
                    self._seen_stages.add(sid)
                    c["stages"] += 1
                    c["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                    c["failed_tasks"] += st.numFailedTasks()
                    c["cpu_s"] += st.executorCpuTime() / 1e9
                    c["gc_s"] += st.jvmGcTime() / 1e3
                    c["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
                    c["spill_mb"] += st.diskBytesSpilled() / _MB
                    if st.executorRunTime() > c["heaviest_stage_run_ms"]:
                        c["heaviest_stage_run_ms"] = float(st.executorRunTime())
                        c["task_skew"] = self._task_skew(store, sid, st.attemptId())
        per_layer: dict[str, dict[str, float]] = {}
        for sp in spans:
            if sp is root:
                continue
            acc = per_layer.setdefault(sp["layer"], dict.fromkeys(COUNTERS, 0.0))
            for k in COUNTERS:
                acc[k] += sp["spark"][k]
        return per_layer

    @staticmethod
    def _task_skew(store, sid: int, attempt: int) -> float:
        tasks = store.taskList(sid, attempt, 1 << 20)
        run_ms = []
        for k in range(tasks.size()):
            m = tasks.apply(k).taskMetrics()
            if m.isDefined():
                run_ms.append(m.get().executorRunTime())
        if not run_ms:
            return 0.0
        return max(run_ms) / max(statistics.median(run_ms), 1.0)

    def task_skew(self, root: dict, name: str) -> float:
        """Task skew of the heaviest stage under the spans called ``name``
        (call after :meth:`counters`)."""
        best = (0.0, 0.0)
        for top in self.subtree(root):
            if top["name"] != name:
                continue
            for s in self.subtree(top):
                c = s.get("spark", {})
                if c.get("heaviest_stage_run_ms", 0.0) > best[0]:
                    best = (c["heaviest_stage_run_ms"], c.get("task_skew", 0.0))
        return best[1]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp) + "\n")
