"""Tracing from outside the program.

Spans: while a ``Tracer`` is enabled, the public functions of the layer
modules are wrapped so that each outermost call records a span (name,
start, end, parent span, job id). Spans stay in memory and are written
out once, when the run ends. Spark's side comes from its own records:
the Catalyst tracker phases of the final query and the status store's
jobs, stages and SQL executions started while a job ran.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import statistics
import sys
import time

# modules whose public functions are layer boundaries; a span is named
# "<layer>.<function>" and its layer is the part before the first dot
LAYER_MODULES = {
    "parser": "ndto_spark.parser",
    "spec": "ndto_spark.spec",
    "compiler": "ndto_spark.compiler",
    "runner": "ndto_spark.runner",
    "json_rules": "ndto_spark.json_rules",
    "table_rules": "ndto_spark.table_rules",
    "images": "ndto_spark.images",
    "batch": "ndto_spark.batch",
    "checkpoint": "ndto_spark.checkpoint",
    "dedup": "ndto_spark.dedup",
    "ann": "ndto_spark.ann",
    "temporal": "ndto_spark.temporal",
    "sketches": "ndto_spark.sketches",
    "streaming": "ndto_spark.streaming",
    "multimodal": "ndto_spark.multimodal",
    "text": "ndto_spark.functions.text",
}
# class methods that are layer boundaries of their own
LAYER_METHODS = [
    ("compiler", "ndto_spark.compiler", "Compiler", "compile"),
    ("runner", "ndto_spark.runner", "RuleSet", "compile"),
]
# phases the benchmark itself marks around each job
PHASES = ["job", "build", "plan", "exec"]
LAYERS = PHASES + list(LAYER_MODULES)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.enabled = False
        self.job = None
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self.on_return: dict[str, object] = {}

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "job": self.job,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def _wrap(self, fn, name: str):
        depth = [0]
        hook = self.on_return.get(name)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            # recursive and nested calls of one function form one span
            if not self.enabled or depth[0]:
                return fn(*args, **kwargs)
            depth[0] += 1
            try:
                with self.span(name) as rec:
                    out = fn(*args, **kwargs)
                if hook is not None:
                    hook(rec, out)
                return out
            finally:
                depth[0] -= 1

        return traced

    def install(self) -> None:
        """Wrap every layer boundary, rebinding each name that refers to
        the original function in any loaded ``ndto_spark`` module (so
        ``from .runner import validate`` call sites are traced too)."""
        originals = {}
        for layer, modname in LAYER_MODULES.items():
            mod = sys.modules.get(modname) or __import__(modname, fromlist=["_"])
            for attr, obj in vars(mod).items():
                if (
                    inspect.isfunction(obj)
                    and obj.__module__ == modname
                    and not attr.startswith("_")
                ):
                    originals[id(obj)] = (obj, self._wrap(obj, f"{layer}.{attr}"))
        mods = [m for n, m in sys.modules.items() if n.startswith("ndto_spark") and m]
        for mod in mods:
            for attr, obj in list(vars(mod).items()):
                if id(obj) in originals and originals[id(obj)][0] is obj:
                    self._patches.append((mod, attr, obj))
                    setattr(mod, attr, originals[id(obj)][1])
        for layer, modname, cls_name, meth in LAYER_METHODS:
            cls = getattr(sys.modules[modname], cls_name)
            orig = vars(cls)[meth]
            self._patches.append((cls, meth, orig))
            setattr(cls, meth, self._wrap(orig, f"{layer}.{cls_name}.{meth}"))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def self_ms(self, job) -> dict[str, float]:
        """Self time per layer for one job: each span's duration minus the
        part its child spans cover."""
        spans = [s for s in self.spans if s["job"] == job and s["end"] is not None]
        child = {s["id"]: 0.0 for s in spans}
        for s in spans:
            if s["parent"] in child:
                child[s["parent"]] += s["end"] - s["start"]
        out = {layer: 0.0 for layer in LAYERS}
        for s in spans:
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"] - child[s["id"]]) * 1e3
        return out

    def layer_ms(self, job, name: str) -> float:
        return 1e3 * sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["job"] == job and s["end"] is not None and s["name"] == name
        )

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f)


def expr_size(col) -> int:
    """Node count of a Column's Catalyst expression tree (one treeString
    line per node)."""
    from pyspark import SparkContext

    pkg = SparkContext._jvm.org.apache.spark.sql.classic
    to_expr = getattr(pkg, "ColumnNodeToExpressionConverter$").__getattr__("MODULE$")
    return len(to_expr.apply(col._jc.node()).treeString().splitlines())


def plan_phases_ms(df) -> dict[str, float]:
    """Catalyst tracker phases of ``df``'s query execution, in ms."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[phase] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


class SparkRecords:
    """Jobs, stages and SQL executions that Spark's status store recorded
    since a mark. The store is filled by an asynchronous listener, so each
    read first waits for the listener bus to drain."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext._jsc.sc()
        self.store = self.sc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        gw = spark.sparkContext._gateway
        self._no_status = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def _drain(self) -> None:
        self.sc.listenerBus().waitUntilEmpty()

    def mark(self) -> tuple[int, int]:
        self._drain()
        jobs = self.store.jobsList(None)
        last_job = jobs.apply(0).jobId() if jobs.size() else -1
        return last_job, self.sql.executionsCount()

    def since(self, mark: tuple[int, int]) -> dict[str, float]:
        self._drain()
        last_job, n_exec = mark
        stage_ids: set[int] = set()
        n_jobs = 0
        jobs = self.store.jobsList(None)  # newest first
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= last_job:
                break
            n_jobs += 1
            ids = j.stageIds()
            stage_ids.update(ids.apply(k) for k in range(ids.size()))
        out = {
            "jobs": float(n_jobs),
            "stages": 0.0,
            "tasks": 0.0,
            "scan_tasks": 0.0,
            "shuffle_write_bytes": 0.0,
            "spill_bytes": 0.0,
            "task_skew": 1.0,
            "slowest_stage_run_ms": 0.0,
        }
        slowest = None
        for sid in stage_ids:
            attempts = self.store.stageData(
                sid, False, self._no_status, False, self._no_quantiles
            )
            for a in range(attempts.size()):
                st = attempts.apply(a)
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                if st.inputBytes() > 0:
                    out["scan_tasks"] += st.numTasks()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.diskBytesSpilled()
                if slowest is None or st.executorRunTime() > slowest[2]:
                    slowest = (sid, st.attemptId(), st.executorRunTime())
        if slowest is not None:
            out["slowest_stage_run_ms"] = float(slowest[2])
            tasks = self.store.taskList(slowest[0], slowest[1], 1_000_000)
            durs = []
            for k in range(tasks.size()):
                d = tasks.apply(k).duration()
                if d.isDefined():
                    durs.append(float(d.get()))
            if durs and statistics.median(durs) > 0:
                out["task_skew"] = max(durs) / statistics.median(durs)
        wall_ms, exchanges = 0.0, 0
        execs = self.sql.executionsList(n_exec, 1_000_000)
        for i in range(execs.size()):
            e = execs.apply(i)
            done = e.completionTime()
            if done.isDefined():
                wall_ms += done.get().getTime() - e.submissionTime()
            nodes = self.sql.planGraph(e.executionId()).allNodes()
            exchanges += sum(
                1 for k in range(nodes.size()) if nodes.apply(k).name() == "Exchange"
            )
        out["wall_s"] = wall_ms / 1e3
        out["exchanges"] = float(exchanges)
        return out
