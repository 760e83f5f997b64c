"""Per-layer tracing for traced benchmark runs (``--trace 1``).

Everything here observes the engine from outside; nothing in the
package is edited:

- :class:`Tracer` wraps named module functions and rebinds every name
  the package imported at module load (``registry.py`` imports
  ``topk_similarity_join`` and ``bucket_10s`` at the top, for example),
  so calls through either binding are recorded as spans
  ``(name, t0, t1)``;
- a ``StreamingQueryListener`` records each micro-batch's progress;
- query phases are wall-clock windows recorded by the runner; after the
  run, jobs from the Spark event log (``tools/profile_query``'s parser)
  are attributed to those windows by submission time, and each job's
  tasks are read from Spark's ``StatusTracker``;
- executed-plan node counts are read from the final (adaptive)
  physical plan of each returned DataFrame.

:func:`per_layer` turns the runner's pass records and the tracer's data
into the per-layer metrics.  Every value is a median over the timed
passes (counts repeat exactly from pass to pass).  Every workload emits
the same metric names; a query or module a workload does not run reads
0 there, which is the "bypassed" prediction for that workload.
"""

from __future__ import annotations

import functools
import glob
import os
import statistics
import sys
import threading
import time
from datetime import datetime

# (defining module, function, metric name, workload meant to call it)
MODULE_FUNCTIONS = [
    ("operators.graph", "connected_components", "graph.connected_components", "dedup_cc"),
    ("operators.graph", "incremental_components", "graph.incremental_components", "dedup_cc"),
    ("operators.dedup", "banded_pairs", "dedup.banded_pairs", "dedup_cc"),
    ("functions.hyperplane", "hyperplane_near_dup_pairs",
     "hyperplane.hyperplane_near_dup_pairs", "dedup_cc"),
    ("operators.profiles", "build_profiles_fixed_metrics",
     "profiles.build_profiles_fixed_metrics", "fleet"),
    ("operators.knn", "topk_similarity_join", "knn.topk_similarity_join", "fleet"),
    ("operators.ivf", "ivf_probe_topk_grouped", "ivf.ivf_probe_topk_grouped", "fleet"),
    ("operators.pq", "pq_adc_topk_np", "pq.pq_adc_topk_np", "fleet"),
    ("operators.serving", "bucket_10s", "serving.bucket_10s", "fleet"),
    ("streaming.pipeline", "windowed_snapshot_stream", "pipeline.windowed_snapshot_stream", "fleet"),
    ("streaming.pipeline", "detection_sinks", "pipeline.detection_sinks", "fleet"),
    ("plans.registry", "_materialize_once", "registry._materialize_once", "fleet"),
    ("sources.tables", "load_table", "tables.load_table", None),
]
PACKAGE = "vectorsearch_scylla_spark"


def _ms() -> int:
    return int(time.time() * 1000)


class Tracer:
    def __init__(self, spark, event_dir: str):
        self.spark = spark
        self.event_dir = event_dir
        self.lock = threading.Lock()
        self.spans: list[tuple[str, int, int]] = []
        self.progress: list[dict] = []
        self.started: set[str] = set()
        self.ended: set[str] = set()
        self._wrap_modules()
        self._add_listener()

    # -- module spans -------------------------------------------------
    def _wrap_modules(self) -> None:
        import importlib

        for mod, fn_name, metric, _home in MODULE_FUNCTIONS:
            module = importlib.import_module(f"{PACKAGE}.{mod}")
            original = getattr(module, fn_name)
            wrapper = self._wrap(metric, original)
            # rebind the defining module AND every package module that
            # imported the function object by name at load time
            for name, loaded in list(sys.modules.items()):
                if loaded is None or not name.startswith(PACKAGE):
                    continue
                for attr, value in list(vars(loaded).items()):
                    if value is original:
                        setattr(loaded, attr, wrapper)

    def _wrap(self, metric: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            t0 = _ms()
            try:
                return fn(*args, **kwargs)
            finally:
                with self.lock:
                    self.spans.append((metric, t0, _ms()))

        return wrapper

    # -- streaming progress -------------------------------------------
    def _add_listener(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with tracer.lock:
                    tracer.started.add(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                ts = datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
                t = int((ts - datetime(1970, 1, 1)).total_seconds() * 1000)
                with tracer.lock:
                    tracer.progress.append(
                        {"t": t, "rows": p.numInputRows, "ms": dict(p.durationMs)}
                    )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with tracer.lock:
                    tracer.ended.add(str(event.runId))

        self.spark.streams.addListener(Listener())

    def wait_for_streams(self, timeout_s: float = 20.0) -> None:
        """Listener events arrive asynchronously; a query's progress
        events precede its termination event on the listener bus."""
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            with self.lock:
                if self.started <= self.ended:
                    return
            time.sleep(0.1)

    # -- Spark jobs ---------------------------------------------------
    def jobs(self) -> list[dict]:
        """Every job of the application with its submission time, tasks,
        failed tasks and shuffle bytes.  Call after the last job has ended (the event
        log is flushed at each job end) and before ``spark.stop()``."""
        from tools.profile_query import parse_event_log

        logs = glob.glob(os.path.join(self.event_dir, "*"))
        prof = parse_event_log(logs[0]) if logs else {"jobs": {}, "stages": {}}
        st = self.spark.sparkContext.statusTracker()
        owner: dict[int, int] = {}
        out = []
        for jid in sorted(prof["jobs"]):
            info = st.getJobInfo(jid)
            sids = [int(s) for s in info.stageIds] if info else []
            # a stage reused by a later job (skipped there) is counted
            # once, for the first job that listed it
            mine = [s for s in sids if owner.setdefault(s, jid) == jid]
            tasks = failed = shuffle = 0
            for sid in mine:
                sinfo = st.getStageInfo(sid)
                if sinfo is None or sinfo.numCompletedTasks == 0:
                    continue  # skipped stage
                tasks += sinfo.numCompletedTasks
                failed += sinfo.numFailedTasks
                shuffle += prof["stages"].get(sid, {}).get("shuf_write_b", 0)
            out.append(
                {"t": prof["jobs"][jid]["t0"], "tasks": tasks,
                 "failed_tasks": failed, "shuffle_bytes": shuffle}
            )
        return out


# -- executed plans -----------------------------------------------------
def plan_stats(df) -> dict:
    """Node counts of ``df``'s final physical plan (call after an
    action), plus Catalyst's own phase times."""
    qe = df._jdf.queryExecution()
    names: list[str] = []

    def walk(node):
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if cls.endswith("QueryStageExec"):
            return walk(node.plan())
        names.append(node.nodeName())
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(qe.executedPlan())
    phases = qe.tracker().phases()
    ms = {}
    for name in ("analysis", "optimization", "planning"):
        o = phases.get(name)
        ms[name] = o.get().durationMs() if o.isDefined() else 0
    return {
        "exchanges": sum(n in ("Exchange", "BroadcastExchange") for n in names),
        "python_nodes": sum(
            ("Python" in n or "InPandas" in n or "InArrow" in n) for n in names
        ),
        "catalyst_ms": ms,
    }


def jobs_in(jobs: list[dict], t0: int, t1: int) -> list[dict]:
    return [j for j in jobs if t0 <= j["t"] < t1]


# -- module spans, self-attributed ----------------------------------------
def _inside(spans, i: int, j: int) -> bool:
    """Span ``j`` lies inside span ``i``.  Equal intervals (the clock
    has millisecond resolution) nest in recording order: the inner call
    ends, and is recorded, first."""
    _, a0, a1 = spans[i]
    _, b0, b1 = spans[j]
    return i != j and a0 <= b0 and b1 <= a1 and ((a0, a1) != (b0, b1) or j < i)


def self_spans(spans, jobs: list[dict]) -> list[tuple[str, int, float, int]]:
    """``(metric, t0, self_s, self_jobs)`` per span.  A wrapped function
    often calls another one (``incremental_components`` runs
    ``connected_components``): each job counts for the innermost span
    covering its submission, and each span's time excludes the time of
    the wrapped calls inside it, so module figures never overlap."""
    n = len(spans)
    inner = [[j for j in range(n) if _inside(spans, i, j)] for i in range(n)]
    out = []
    for i, (metric, t0, t1) in enumerate(spans):
        # the calls directly inside i: those not inside another of them
        direct = [j for j in inner[i] if not any(_inside(spans, k, j) for k in inner[i])]
        nested_ms = sum(spans[j][2] - spans[j][1] for j in direct)
        mine = [
            job for job in jobs
            if t0 <= job["t"] <= t1
            and not any(spans[j][1] <= job["t"] <= spans[j][2] for j in inner[i])
        ]
        out.append((metric, t0, max(0, t1 - t0 - nested_ms) / 1000, len(mine)))
    return out


# -- per-layer metrics ------------------------------------------------------
QUERY_FIELDS = {
    "construct_s": "s",
    "eager_jobs": "count",
    "plan_s": "s",
    "exec_s": "s",
    "jobs": "count",
    "tasks": "count",
    "exchanges": "count",
    "python_nodes": "count",
    "shuffle_bytes": "bytes",
}
MODULE_FIELDS = {"calls": "count", "s": "s", "jobs": "count"}
STREAM_FIELDS = {
    "batches": "count",
    "input_rows": "count",
    "addBatch_ms": "ms",
    "queryPlanning_ms": "ms",
    "walCommit_ms": "ms",
    "offsets_ms": "ms",
    "triggerExecution_ms": "ms",
}


def metric_units(queries: list[str]) -> dict[str, str]:
    """Every per-layer metric name with its unit, in output order, for
    the benchmark's ``queries`` (all workloads)."""
    out = {}
    for q in queries:
        for f, unit in QUERY_FIELDS.items():
            out[f"q.{q}.{f}"] = unit
    out["pass.failed_tasks"] = "count"
    for _mod, _fn, metric, _home in MODULE_FUNCTIONS:
        for f, unit in MODULE_FIELDS.items():
            out[f"{metric}.{f}"] = unit
    for f, unit in STREAM_FIELDS.items():
        out[f"stream.{f}"] = unit
    out["trace.pass_s"] = "s"
    out["setup.session_s"] = "s"
    out["setup.cold_pass_s"] = "s"
    out["proc.peak_rss_mb"] = "MB"
    return out


def _pass_values(p: dict, jobs: list[dict], spans, progress) -> dict[str, float]:
    v: dict[str, float] = {"pass.failed_tasks": 0}
    for rec in p["queries"]:
        q = rec["query"]
        if "error" in rec:
            continue
        ps = plan_stats(rec["df"])
        cat = ps["catalyst_ms"]
        all_jobs = jobs_in(jobs, rec["t0"], rec["t2"] + 1)
        v.update({
            f"q.{q}.construct_s": rec["construct_s"],
            f"q.{q}.eager_jobs": len(jobs_in(jobs, rec["t0"], rec["t1"])),
            f"q.{q}.plan_s": sum(cat.values()) / 1000,
            f"q.{q}.exec_s": rec["collect_s"] - (cat["optimization"] + cat["planning"]) / 1000,
            f"q.{q}.jobs": len(all_jobs),
            f"q.{q}.exchanges": ps["exchanges"],
            f"q.{q}.python_nodes": ps["python_nodes"],
        })
        for f in ("tasks", "shuffle_bytes"):
            v[f"q.{q}.{f}"] = sum(j[f] for j in all_jobs)
        v["pass.failed_tasks"] += sum(j["failed_tasks"] for j in all_jobs)
    t0, t1 = p["t0"], p["t1"] + 1
    for _mod, _fn, metric, _home in MODULE_FUNCTIONS:
        mine = [s for s in spans if s[0] == metric and t0 <= s[1] < t1]
        v[f"{metric}.calls"] = len(mine)
        v[f"{metric}.s"] = sum(s[2] for s in mine)
        v[f"{metric}.jobs"] = sum(s[3] for s in mine)
    batches = [e for e in progress if t0 <= e["t"] < t1]
    v["stream.batches"] = len(batches)
    v["stream.input_rows"] = sum(e["rows"] for e in batches)
    for phase in ("addBatch", "queryPlanning", "walCommit", "triggerExecution"):
        v[f"stream.{phase}_ms"] = sum(e["ms"].get(phase, 0) for e in batches)
    v["stream.offsets_ms"] = sum(
        e["ms"].get("latestOffset", 0) + e["ms"].get("commitOffsets", 0) for e in batches
    )
    v["trace.pass_s"] = p["wall_s"]
    return v


def per_layer(tracer: Tracer, timed: list[dict], queries: list[str], workload: str) -> dict:
    """Medians over the ``timed`` passes of every metric in
    :func:`metric_units`.  Raises if a wrapped module function recorded
    no call on the workload meant to exercise it: a rename in the
    package would otherwise read as a silent zero."""
    silent = [
        metric
        for _mod, _fn, metric, home in MODULE_FUNCTIONS
        if home in (None, workload) and not any(s[0] == metric for s in tracer.spans)
    ]
    if silent:
        raise RuntimeError(f"wrapped functions recorded no call on {workload}: {silent}")
    jobs = tracer.jobs()
    spans = self_spans(tracer.spans, jobs)
    per_pass = [_pass_values(p, jobs, spans, tracer.progress) for p in timed]
    return {
        name: {"value": statistics.median(pv.get(name, 0) for pv in per_pass), "unit": unit}
        for name, unit in metric_units(queries).items()
    }
