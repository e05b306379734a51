"""Traced runs: spans around the engine's layer functions, per-layer metrics.

A traced run wraps the public functions of each layer module (the names in
``LAYER_FUNCTIONS``) so that every call records a span (name, layer, start,
end, parent, job group) and runs under its own Spark job group.  Stage
counters are then read per job group from the Spark driver's status store
(the UI is off), so the jobs a layer triggers itself are charged to that
layer.  Lazy work runs inside whichever span forces it; the final action of
a job runs in an ``action`` span, and its executed plan is walked for scan
rows and time and the Arrow workers' Python metrics.  For ``features``,
whose layers are all lazy, the run also times the pipeline's prefixes
(scan, + windows, + as-of, + text features) and charges each layer its
marginal cost.

Loop jobs alternate traced and untraced, so the run measures its own
tracing overhead.  The raw numbers (``TRACE_METRICS``) and the spans are
written to ``.perfbench/trace-<workload>-s<seed>.json``; the result line
reports ``PER_LAYER``, derived by ``report``.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import itertools
import json
import statistics
import time
from collections import defaultdict

# (module, function, layer); the layer is the module's name
LAYER_FUNCTIONS = [
    ("plans.pipeline", "feature_pipeline_from_df", "plans"),
    ("plans.curation", "curate_corpus", "plans"),
    ("operators.windows", "with_backfill", "windows"),
    ("operators.windows", "with_rolling_count", "windows"),
    ("operators.windows", "with_session", "windows"),
    ("operators.asof", "asof_join_union_window", "asof"),
    ("functions.textfeats", "with_rant_stats", "textfeats"),
    ("functions.textanalysis", "with_quality", "textanalysis"),
    ("operators.corpus", "filter_repetitive", "textanalysis"),
    ("functions.pii", "scrub_pii", "textanalysis"),
    ("operators.corpus", "decontaminate", "corpus"),
    ("operators.corpus", "pack_sequences", "corpus"),
    ("operators.dedup", "exact_dedup", "dedup"),
    ("operators.dedup", "minhash_signatures", "dedup"),
    ("operators.dedup", "minhash_lsh_pairs", "dedup"),
    ("operators.dedup", "minhash_lsh_pairs_incremental", "dedup"),
    ("operators.dedup", "read_neardup_store", "dedup"),
    ("operators.dedup", "write_neardup_store", "dedup"),
    ("operators.dedup", "append_neardup_store", "dedup"),
    ("operators.graph", "dedup_keep_canonical", "graph"),
    ("operators.graph", "connected_components", "graph"),
    ("pinning", "pin", "pinning"),
]
LAYERS = [
    "sources", "windows", "asof", "textfeats", "textanalysis",
    "dedup", "graph", "corpus", "pinning",
]
# Arrow UDFs in executed plans, by the layer that defines them
UDF_LAYERS = {
    "rant_stats_udf": "textfeats",
    "jaccard_udf": "dedup",
    "MapInPandas compute(": "dedup",
}
JOB_COUNTERS = [
    "tasks", "task_s", "cpu_s", "gc_s", "spill_bytes", "failed_tasks",
    "speculative_tasks",
]

# Every raw per-layer number a traced run measures, on every workload (0
# where the workload does not reach the layer); the trace file keeps them.
TRACE_METRICS = (
    ["session.start_s", "session.python_boot_s", "peak_rss_mb", "sources.scan_rows"]
    + [f"{lay}.{m}" for lay in LAYERS for m in ("self_s", "task_s", "shuffle_bytes")]
    + ["sources.scan_s", "windows.task_skew", "asof.task_skew", "asof.rows_matched"]
    + [f"{lay}.{m}" for lay in ("textfeats", "dedup")
       for m in ("python_s", "python_boot_s", "python_bytes")]
    + ["textanalysis.kept_frac", "dedup.pairs", "dedup.peak_task_mem_mb",
       "dedup.store_write_s", "dedup.store_files", "graph.jobs",
       "pinning.cached_bytes", "plans.build_s", "plans.action_s",
       "plans.eager_task_s", "plans.action_task_s", "plans.prefix_s",
       "plans.prefix_task_s", "job.wall_s"]
    + [f"job.{k}" for k in JOB_COUNTERS]
    + ["trace.overhead_s"]
)
# The features workload charges these layers from its prefix timings.
DISSECTED = ("sources", "windows", "asof", "textfeats")
# Times every workload measures; a layer's own time is reported as its
# share of the traced jobs (a layer a workload never reaches reads 0, and
# a time that reads 0 on every run would not be a measurement).
ALWAYS_TIMES = [
    "session.start_s", "session.python_boot_s", "plans.action_s",
    "plans.eager_task_s", "plans.action_task_s", "job.task_s", "job.cpu_s",
    "job.gc_s", "trace.overhead_s",
]
RAW_KEPT = (
    [f"{lay}.shuffle_bytes" for lay in LAYERS]
    + ["sources.scan_rows", "windows.task_skew", "asof.task_skew",
       "asof.rows_matched", "textfeats.python_bytes", "dedup.python_bytes",
       "textanalysis.kept_frac", "dedup.pairs", "dedup.peak_task_mem_mb",
       "dedup.store_files", "graph.jobs", "pinning.cached_bytes", "job.tasks",
       "job.spill_bytes", "job.failed_tasks", "job.speculative_tasks",
       "peak_rss_mb"]
)
# The per-layer metrics of the result line; BENCHMARK.json lists the same.
PER_LAYER = (
    ALWAYS_TIMES
    + [f"{lay}.{m}" for lay in LAYERS for m in ("self_share", "task_share")]
    + ["sources.scan_share", "textfeats.python_share", "dedup.python_share",
       "dedup.store_write_share", "plans.build_share"]
    + RAW_KEPT
)


def report(raw: dict) -> dict:
    """The result line's per-layer metrics from the raw trace numbers."""
    out = {k: raw[k] for k in ALWAYS_TIMES + RAW_KEPT}
    wall, task = raw["job.wall_s"], raw["job.task_s"]
    for lay in LAYERS:
        dissected = lay in DISSECTED and raw["plans.prefix_s"] > 0
        out[f"{lay}.self_share"] = raw[f"{lay}.self_s"] / (
            raw["plans.prefix_s"] if dissected else wall
        )
        out[f"{lay}.task_share"] = raw[f"{lay}.task_s"] / (
            raw["plans.prefix_task_s"] if dissected else task
        )
    out["sources.scan_share"] = raw["sources.scan_s"] / task
    out["textfeats.python_share"] = raw["textfeats.python_s"] / task
    out["dedup.python_share"] = raw["dedup.python_s"] / task
    out["dedup.store_write_share"] = raw["dedup.store_write_s"] / wall
    out["plans.build_share"] = raw["plans.build_s"] / wall
    return {k: out[k] for k in PER_LAYER}


# Named in the layer table but out of reach from outside the program.
MISSING = {
    "dedup.candidates": "the LSH candidate set lives inside minhash_lsh_pairs "
    "and its incremental form; no executed plan the benchmark holds counts it",
    "dedup.pair_yield": "needs dedup.candidates",
    "graph.iterations": "connected_components returns no iteration count; "
    "graph.jobs counts the jobs its loop runs",
    "corpus.self_s (decontamination vs packing split)": "both run lazily in the "
    "final action; corpus.self_s charges them together",
}


def unit_of(name: str) -> str:
    for suffix, unit in (("_s", "s"), ("_bytes", "bytes"), ("_mb", "MB"),
                         ("_frac", "fraction"), ("_share", "fraction"),
                         ("_skew", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


class Tracer:
    """Spans and per-layer metrics of one traced run of ``workload``."""

    def __init__(self, spark, workload) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.plans: list = []  # executed plans of the traced final actions
        self.cached_bytes = 0
        self.walls: dict[bool, list[float]] = {True: [], False: []}
        self._ids = itertools.count()
        self._jobs = 0
        self._patched: list = []
        workload.tracer = self

    # ---- spans ----

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        parent = self.stack[-1] if self.stack else None
        sp = {
            "id": f"pb-{next(self._ids)}",
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "job": self._jobs,
        }
        self.stack.append(sp)
        self.sc.setLocalProperty("spark.jobGroup.id", sp["id"])
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self.stack.pop()
            self.sc.setLocalProperty(
                "spark.jobGroup.id", self.stack[-1]["id"] if self.stack else None
            )
            self.spans.append(sp)

    def _wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def _install(self) -> None:
        from py_evalfilter_spark.pinning import PinScope

        for mod_name, attr, layer in LAYER_FUNCTIONS:
            mod = importlib.import_module(f"py_evalfilter_spark.{mod_name}")
            fn = getattr(mod, attr)
            self._patched.append((mod, attr, fn))
            setattr(mod, attr, self._wrap(fn, f"{mod_name}.{attr}", layer))
        release = PinScope.release
        tracer = self

        def traced_release(scope, *a, **kw):
            tracer.cached_bytes = max(tracer.cached_bytes, tracer._storage_bytes())
            return release(scope, *a, **kw)

        self._patched.append((PinScope, "release", release))
        PinScope.release = traced_release
        ckpt = PinScope.pin_local_checkpoint
        self._patched.append((PinScope, "pin_local_checkpoint", ckpt))
        PinScope.pin_local_checkpoint = self._wrap(
            ckpt, "pinning.PinScope.pin_local_checkpoint", "pinning"
        )

    def _uninstall(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    @contextlib.contextmanager
    def job(self, first: bool):
        """One job of the loop: the first job and every other loop job are
        traced, the rest run untraced for the overhead measurement."""
        traced = first or self._jobs % 2 == 1
        t0 = time.perf_counter()
        if traced:
            self._install()
        try:
            if traced:
                with self.span("job", "job"):
                    yield
            else:
                yield
        finally:
            if traced:
                self._uninstall()
            if not first:
                self.walls[traced].append(time.perf_counter() - t0)
            self._jobs += 1

    def collect(self, df):
        """The job's final action, in its own span; keeps the executed plan."""
        if not self.stack:
            return df.collect()
        with self.span("action", "action"):
            rows = df.collect()
        self.plans.append(df._jdf.queryExecution().executedPlan())
        return rows

    def _storage_bytes(self) -> int:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos)

    # ---- status store ----

    def stage_counters(self, group: str) -> dict:
        """Stage counters of the jobs run under job group ``group``."""
        jvm = self.sc._jvm
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        out: dict = defaultdict(float)
        out["skew"] = 0.0
        out["peak_task_mem_mb"] = 0.0
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                attempts = store.stageData(
                    sid, False, jvm.java.util.ArrayList(), False,
                    self.sc._gateway.new_array(jvm.double, 0),
                )
                for a in range(attempts.size()):
                    sd = attempts.apply(a)
                    if sd.numCompleteTasks() == 0:
                        continue  # skipped: its shuffle output was reused
                    out["stages"] += 1
                    out["tasks"] += sd.numCompleteTasks()
                    out["failed_tasks"] += sd.numFailedTasks()
                    out["task_s"] += sd.executorRunTime() / 1e3
                    out["cpu_s"] += sd.executorCpuTime() / 1e9
                    out["gc_s"] += sd.jvmGcTime() / 1e3
                    out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    out["shuffle_bytes"] += sd.shuffleWriteBytes()
                    tasks = store.taskList(sid, sd.attemptId(), 1 << 20)
                    durs = []
                    for t in range(tasks.size()):
                        td = tasks.apply(t)
                        out["speculative_tasks"] += bool(td.speculative())
                        if td.duration().isDefined():
                            durs.append(float(td.duration().get()))
                        if td.taskMetrics().isDefined():
                            mem = td.taskMetrics().get().peakExecutionMemory() / 2**20
                            out["peak_task_mem_mb"] = max(out["peak_task_mem_mb"], mem)
                    if len(durs) >= 2 and statistics.median(durs) > 0:
                        out["skew"] = max(out["skew"], max(durs) / statistics.median(durs))
        return dict(out)

    # ---- executed plans ----

    @staticmethod
    def _plan_nodes(plan) -> list[tuple[str, str, dict]]:
        """(class name, description, metrics) of every node of an executed
        plan, through adaptive query stages; reused exchanges are skipped
        (their metrics belong to the original)."""
        nodes = []
        todo = [plan]
        while todo:
            p = todo.pop()
            cls = p.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                todo.append(p.executedPlan())
                continue
            if cls.endswith("QueryStageExec"):
                todo.append(p.plan())
                continue
            if cls == "ReusedExchangeExec":
                continue
            metrics = {}
            it = p.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                metrics[kv._1()] = kv._2().value()
            nodes.append((cls, p.toString(), metrics))
            children = p.children()
            for i in range(children.size()):
                todo.append(children.apply(i))
        return nodes

    # ---- results ----

    def finish(self, extra: dict) -> dict:
        """Per-layer metrics of the traced jobs, plus ``extra``."""
        wl = self.workload
        layer = dict.fromkeys(TRACE_METRICS, 0.0)
        child_s: dict = defaultdict(float)
        for sp in self.spans:
            if sp["parent"]:
                child_s[sp["parent"]] += sp["end"] - sp["start"]
        job_counters: dict = defaultdict(float)
        eager_task_s = action_task_s = 0.0
        for sp in self.spans:
            c = self.stage_counters(sp["id"])
            sp["counters"] = c
            sp["self_s"] = sp["end"] - sp["start"] - child_s[sp["id"]]
            for k in JOB_COUNTERS:
                job_counters[k] += c.get(k, 0.0)
            name, lay = sp["name"], sp["layer"]
            if lay == "job":
                layer["job.wall_s"] += sp["end"] - sp["start"]
            if lay == "action":
                action_task_s += c.get("task_s", 0.0)
                lay = wl.action_layer
                layer["plans.action_s"] += sp["self_s"]
            else:
                eager_task_s += c.get("task_s", 0.0)
            if lay == "plans":
                layer["plans.build_s"] += sp["end"] - sp["start"]
            if lay in LAYERS:
                layer[f"{lay}.self_s"] += sp["self_s"]
                layer[f"{lay}.task_s"] += c.get("task_s", 0.0)
                layer[f"{lay}.shuffle_bytes"] += c.get("shuffle_bytes", 0.0)
            if lay == "dedup":
                layer["dedup.peak_task_mem_mb"] = max(
                    layer["dedup.peak_task_mem_mb"], c.get("peak_task_mem_mb", 0.0)
                )
                # append_neardup_store writes through write_neardup_store
                if name.endswith(".write_neardup_store"):
                    layer["dedup.store_write_s"] += sp["end"] - sp["start"]
            if lay == "graph":
                layer["graph.jobs"] += c.get("jobs", 0.0)
        layer["plans.eager_task_s"] = eager_task_s
        layer["plans.action_task_s"] = action_task_s
        for k in JOB_COUNTERS:
            layer[f"job.{k}"] = job_counters[k]

        python: dict = defaultdict(float)
        for plan in self.plans:
            for cls, desc, m in self._plan_nodes(plan):
                if "Scan" in cls and "numOutputRows" in m:
                    layer["sources.scan_rows"] += m["numOutputRows"]
                    layer["sources.scan_s"] += m.get("scanTime", 0) / 1e3
                if any(k.startswith("python") for k in m):
                    owner = next(
                        (lay for udf, lay in UDF_LAYERS.items() if udf in desc),
                        wl.action_layer,
                    )
                    python[f"{owner}.python_s"] += m.get("pythonTotalTime", 0) / 1e3
                    python[f"{owner}.python_boot_s"] += m.get("pythonBootTime", 0) / 1e3
                    python[f"{owner}.python_bytes"] += m.get("pythonDataSent", 0) + m.get(
                        "pythonDataReceived", 0
                    )
        for owner in ("textfeats", "dedup"):
            for k in ("python_s", "python_boot_s", "python_bytes"):
                layer[f"{owner}.{k}"] = python[f"{owner}.{k}"]
        layer["pinning.cached_bytes"] = float(self.cached_bytes)

        layer.update(wl.dissect(self.spark, self))
        layer.update(extra)
        walls = self.walls
        if walls[True] and walls[False]:
            layer["trace.overhead_s"] = statistics.median(walls[True]) - statistics.median(
                walls[False]
            )
        unknown = set(layer) - set(TRACE_METRICS)
        if unknown:
            raise KeyError(f"per-layer metrics not in TRACE_METRICS: {sorted(unknown)}")
        return layer

    def dump(self, path: str, layer: dict) -> None:
        """Writes the spans, the raw and reported per-layer metrics and the
        missing ones."""
        t0 = min((sp["start"] for sp in self.spans), default=0.0)
        spans = [
            {**sp, "start": sp["start"] - t0, "end": sp["end"] - t0}
            for sp in sorted(self.spans, key=lambda s: s["start"])
        ]
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": spans,
                    "raw": layer,
                    "per_layer": report(layer),
                    "missing": MISSING,
                    "walls": {"traced": self.walls[True], "untraced": self.walls[False]},
                },
                f,
                indent=1,
            )

