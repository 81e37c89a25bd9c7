"""Spans and Spark counters for the traced run (``--trace 1``).

The tracer records a span around each call into the program's public
functions, from the benchmark's side only: it replaces a module
attribute with a timing wrapper and puts the original back on
``uninstall``. Spans (name, start, end, parent) stay in memory and are
written to ``spans.json`` when the run ends. Spark work is attributed
afterwards from an event log: a job belongs to the innermost span open
when it was submitted, and its stages and tasks come with it.

The untraced run uses :class:`NullTracer`, whose hooks cost nothing.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import time

#: span name -> layer whose self time it counts towards
LAYERS = {
    "op": "harness",
    "session.get_session": "session",
    "io.load_table": "io",
    "io.read_parquet": "io",
    "core.build": "core",
    "pipeline.curate_corpus": "pipeline",
    "streaming.stream_neardup_dedup": "streaming",
    "exec.action": "exec",
}

PER_LAYER = [
    "session.get_session_s",
    "io.read_s", "io.reads", "io.read_jobs",
    "core.build_s", "core.dispatch_us",
    "plan.analysis_s", "plan.optimization_s", "plan.planning_s",
    "spark.jobs", "spark.stages", "spark.tasks",
    "exec.action_s", "exec.task_run_s", "exec.task_cpu_s",
    "exec.shuffle_read_mb", "exec.shuffle_write_mb", "exec.spill_mb",
    "pipeline.call_s", "pipeline.jobs",
    "streaming.bytes_written_mb", "streaming.write_amplification", "streaming.store_mb",
    "cache.persistent_rdds", "cache.cached_relations", "jvm.gc_s",
    "self.harness_s", "self.io_s", "self.core_s", "self.pipeline_s",
    "self.streaming_s", "self.exec_s",
    "trace.op_p50_s",
]


class NullTracer:
    """Untraced run: every hook is a no-op."""

    enabled = False

    def span(self, name, **attrs):
        return contextlib.nullcontext()

    def plan_phases(self, df, op_span):
        pass


class Tracer:
    enabled = True

    def __init__(self):
        self.spans = []  # dicts: id, name, start, end, parent, attrs (op counters)
        self._stack = []
        self._patched = []

    # -- spans ----------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name, **attrs):
        s = {"id": len(self.spans), "name": name, "start": time.time(), "end": None,
             "parent": self._stack[-1]["id"] if self._stack else None, "attrs": attrs}
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()

    def wrap(self, module, attr, name):
        """Replace ``module.attr`` with a call recorded as span ``name``."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def spanned(*a, **kw):
            with self.span(name):
                return orig(*a, **kw)

        setattr(module, attr, spanned)
        self._patched.append((module, attr, orig))

    def uninstall(self):
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    # -- counters read from the JVM between operations ----------------------------

    @staticmethod
    def gc_ms(spark):
        """Total JVM garbage-collection time so far, from its MX beans."""
        beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans)

    def after_op(self, spark, op_span, **counters):
        counters["cache.persistent_rdds"] = spark.sparkContext._jsc.getPersistentRDDs().size()
        counters["cache.cached_relations"] = (
            spark._jsparkSession.sharedState().cacheManager().cachedData().size()
        )
        counters["jvm.gc_ms_total"] = self.gc_ms(spark)
        op_span["attrs"].update(counters)

    def plan_phases(self, df, op_span):
        """Catalyst phase times from the query's QueryPlanningTracker.

        Forces planning of ``df``'s own QueryExecution before the action;
        the action then plans its command again, which is part of the
        tracing overhead."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        out = {}
        for p in ("analysis", "optimization", "planning"):
            opt = phases.get(p)
            out[f"plan.{p}_s"] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
        op_span["attrs"].update(out)

    def write(self, path):
        with open(path, "w") as fh:
            json.dump(self.spans, fh)

    # -- the report -------------------------------------------------------------------

    def report(self, event_log_dir, gc_ms_before, extra):
        """Per-layer metrics: per-operation means over the timed ops."""
        jobs = _parse_event_log(event_log_dir)
        by_id = {s["id"]: s for s in self.spans}
        children = {}
        for s in self.spans:
            children.setdefault(s["parent"], []).append(s)

        def innermost(t):
            best = None
            for s in self.spans:
                if s["start"] <= t <= (s["end"] or t) and (best is None or s["start"] >= best["start"]):
                    best = s
            return best

        def ancestors(s):
            while s is not None:
                yield s
                s = by_id.get(s["parent"])

        for j in jobs:
            j["span"] = innermost(j["submit"])

        ops = [s for s in self.spans if s["name"] == "op" and s["attrs"].get("timed")]
        n = max(len(ops), 1)
        m = {k: 0.0 for k in PER_LAYER}

        def under(op, names):
            return [s for s in self.spans if s["name"] in names and op in ancestors(s)]

        def outermost(spans):
            ids = {s["id"] for s in spans}
            return [s for s in spans if not any(a["id"] in ids for a in list(ancestors(s))[1:])]

        def jobs_in(spans):
            ids = {s["id"] for s in spans}
            return [j for j in jobs if j["span"] is not None
                    and any(a["id"] in ids for a in ancestors(j["span"]))]

        prev_gc = gc_ms_before
        for op in ops:
            dur = lambda ss: sum(s["end"] - s["start"] for s in ss)  # noqa: E731
            reads = outermost(under(op, {"io.load_table", "io.read_parquet"}))
            m["io.read_s"] += dur(reads)
            m["io.reads"] += len(reads)
            m["io.read_jobs"] += len(jobs_in(reads))
            builds = outermost(under(op, {"core.build"}))
            m["core.build_s"] += dur(builds) - dur([r for r in reads if any(b in ancestors(r) for b in builds)])
            op_jobs = jobs_in([op])
            m["spark.jobs"] += len(op_jobs)
            m["spark.stages"] += sum(len(j["stages_run"]) for j in op_jobs)
            m["spark.tasks"] += sum(j["tasks"] for j in op_jobs)
            for key in ("task_run_s", "task_cpu_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
                m["exec." + key] += sum(j[key] for j in op_jobs)
            m["exec.action_s"] += dur(under(op, {"exec.action"}))
            calls = outermost(under(op, {"pipeline.curate_corpus"}))
            m["pipeline.call_s"] += dur(calls)
            m["pipeline.jobs"] += len(jobs_in(calls))
            c = op["attrs"]
            for key in ("plan.analysis_s", "plan.optimization_s", "plan.planning_s",
                        "streaming.bytes_written_mb", "streaming.write_amplification",
                        "streaming.store_mb", "cache.persistent_rdds", "cache.cached_relations"):
                m[key] += c.get(key, 0.0)
            gc = c.get("jvm.gc_ms_total", prev_gc)
            m["jvm.gc_s"] += (gc - prev_gc) / 1e3
            prev_gc = gc
            for s in under(op, set(LAYERS)):  # includes op itself
                key = "self." + LAYERS[s["name"]] + "_s"
                if key in m:
                    m[key] += (s["end"] - s["start"]) - _covered(children.get(s["id"], []))
        for k in m:
            m[k] /= n
        sessions = [s for s in self.spans if s["name"] == "session.get_session"]
        m["session.get_session_s"] = sum(s["end"] - s["start"] for s in sessions)
        m["trace.op_p50_s"] = statistics.median([s["end"] - s["start"] for s in ops]) if ops else 0.0
        m.update(extra)
        return m


def _covered(kids):
    """Seconds covered by the union of the spans ``kids``."""
    iv = sorted((k["start"], k["end"]) for k in kids)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _parse_event_log(event_log_dir):
    """Jobs with submission time (s), stages that ran, task count and
    task metrics, from the Spark event log(s) under ``event_log_dir``."""
    stage_job, jobs = {}, {}
    for path in sorted(glob.glob(os.path.join(event_log_dir, "**", "events_*"), recursive=True)):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {"submit": ev["Submission Time"] / 1e3, "stages_run": set(), "tasks": 0,
                                 "task_run_s": 0.0, "task_cpu_s": 0.0, "shuffle_read_mb": 0.0,
                                 "shuffle_write_mb": 0.0, "spill_mb": 0.0}
                    for sid in ev["Stage IDs"]:
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerTaskEnd":
                    j = jobs.get(stage_job.get(ev["Stage ID"]))
                    tm = ev.get("Task Metrics")
                    if j is None or not tm:
                        continue
                    j["stages_run"].add(ev["Stage ID"])
                    j["tasks"] += 1
                    j["task_run_s"] += tm["Executor Run Time"] / 1e3
                    j["task_cpu_s"] += tm["Executor CPU Time"] / 1e9
                    sr = tm.get("Shuffle Read Metrics", {})
                    j["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / 2**20
                    j["shuffle_write_mb"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 2**20
                    j["spill_mb"] += (tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)) / 2**20
    return list(jobs.values())
