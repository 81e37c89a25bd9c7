#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as a JSON line.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout: the program under test is the
``metaframe_spark`` package beside ``perfbench/``. Everything the run
writes (generated inputs, Spark scratch, sinks, event log, spans) goes
under ``.perfbench_work/`` in the checkout and is removed when the run
starts again with the same arguments.

One run: generate the seeded inputs in a ``gen.py`` subprocess (not
timed), set up (import the package, ``session.get_session`` with its JVM
launch, the workload's warm-up: that is ``setup_s``), then whole rounds
of operations in a closed loop with one client until ``--seconds`` of
operation time have passed. The outputs are checked after that, once
peak memory has been read, so neither input generation nor the checks
count in ``peak_rss_mb``. ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` the per-layer ones from a traced run.
The last line of stdout is the result; diagnostics go to stderr.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from spans import PER_LAYER, NullTracer, Tracer  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

CORES = min(4, os.cpu_count() or 1)
CLK_TCK = os.sysconf("SC_CLK_TCK")
END_TO_END_UNITS = {
    "setup_s": "s", "op_p50_s": "s", "rows_per_s": "rows/s",
    "cpu_s_per_op": "s", "peak_rss_mb": "MB",
}


def _unit(name: str) -> str:
    for suffix, unit in (("_s", "s"), ("_mb", "MB"), ("_us", "us")):
        if name.endswith(suffix):
            return unit
    return "ratio" if name.endswith("amplification") else "count"


def _stat(pid) -> list:
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()  # fields from 3 (state) on


def _cpu_s(pid: int) -> float:
    """CPU seconds of ``pid`` plus every live descendant (the JVM's Python
    workers) and the children they reaped."""
    parent = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                parent[int(p)] = int(_stat(p)[1])
            except (OSError, IndexError):
                pass
    todo, ticks = [pid], 0
    while todo:
        p = todo.pop()
        try:
            f = _stat(p)
        except OSError:
            continue
        ticks += int(f[11]) + int(f[12]) + (int(f[13]) + int(f[14]) if p != pid else 0)
        todo += [c for c, pp in parent.items() if pp == p]
    return ticks / CLK_TCK


def _proc_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


class Ctx:
    """What a workload needs: inputs, scratch dir, session, tracer."""

    def __init__(self, **kw):
        self.__dict__.update(kw)
        self.current_op = None
        self.counters = {}


def _isolate(work: str) -> None:
    """Keep every file the run makes inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_SUBMIT_OPTS"] = f"{os.environ.get('SPARK_SUBMIT_OPTS', '')} -Djava.io.tmpdir={tmp}".strip()


def _stop(spark) -> None:
    """Stop Spark and wait until its JVM (and the workers it started) ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description="metaframe_spark benchmark")
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if importlib.util.find_spec("metaframe_spark") is None:
        print(f"metaframe_spark not found in {ROOT}: run from the root of a checkout", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)
    out = os.path.join(work, "inputs")
    made = subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), "--workload", a.workload,
                           "--seed", str(a.seed), "--out", out], check=True, capture_output=True, text=True)
    gen = json.loads(made.stdout.splitlines()[-1])
    print(json.dumps({"workload": a.workload, "seed": a.seed, "inputs_digest": gen["digest"]}), flush=True)
    with open(os.path.join(out, "truth.json")) as fh:
        truth = json.load(fh)

    tracer = Tracer() if a.trace else NullTracer()
    t0 = time.perf_counter()
    import metaframe_spark.io as mf_io
    import metaframe_spark.pipeline as mf_pipeline
    import metaframe_spark.queries as mf_queries
    import metaframe_spark.session as mf_session
    import metaframe_spark.streaming as mf_streaming

    if a.trace:
        tracer.wrap(mf_session, "get_session", "session.get_session")
        tracer.wrap(mf_queries, "load_table", "io.load_table")
        tracer.wrap(mf_io, "read_parquet", "io.read_parquet")
        tracer.wrap(mf_pipeline, "curate_corpus", "pipeline.curate_corpus")
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if a.trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog")})
    spark = mf_session.get_session(app_name="perfbench", master=f"local[{CORES}]",
                                   shuffle_partitions=CORES, extra_conf=conf)
    try:
        jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())

        class Mf:
            io, pipeline, queries, session, streaming = mf_io, mf_pipeline, mf_queries, mf_session, mf_streaming

        ctx = Ctx(spark=spark, mf=Mf, inputs=gen["inputs"], truth=truth, work=work, seed=a.seed, tracer=tracer)
        wl = WORKLOADS[a.workload](ctx)
        with tracer.span("op", timed=False) as ctx.current_op:
            wl.warmup()
        setup_s = time.perf_counter() - t0

        cpu = lambda: _cpu_s(os.getpid())  # noqa: E731  (the JVM is a child)
        gc_before = tracer.gc_ms(spark) if a.trace else 0.0
        times, cpu_s, rows, attempted, failed = [], 0.0, 0, 0, 0
        rounds = wl.rounds()
        while sum(times) < a.seconds:  # whole rounds only
            for label, fn in next(rounds):
                attempted += 1
                ctx.counters = {}
                c0, w0 = cpu(), time.perf_counter()
                with tracer.span("op", timed=True, label=label) as span:
                    ctx.current_op = span
                    try:
                        rows += fn()
                    except Exception:
                        failed += 1
                        traceback.print_exc()
                times.append(time.perf_counter() - w0)
                cpu_s += cpu() - c0
                if a.trace:
                    tracer.after_op(spark, span, **ctx.counters)
        peak_rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024 + _proc_hwm_mb(jvm_pid)
        if a.trace:
            extra = {"core.dispatch_us": _dispatch_us(spark, mf_io)}
            tracer.uninstall()

        fails = wl.check()
        if not wl.corrupted_is_rejected():
            fails.append(f"{a.workload}: a corrupted output passed the check")
    finally:
        _stop(spark)
    for f in fails:
        print("CHECK FAILED:", f, file=sys.stderr)

    if a.trace:
        tracer.write(os.path.join(work, "spans.json"))
        values = tracer.report(os.path.join(work, "eventlog"), gc_before, extra)
        metrics = {k: {"value": values[k], "unit": _unit(k)} for k in PER_LAYER}
    else:
        values = {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(times),
            "rows_per_s": rows / sum(times),
            "cpu_s_per_op": cpu_s / len(times),
            "peak_rss_mb": peak_rss_mb,
        }
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}
    print(f"ops={len(times)} op_s={[round(t, 3) for t in times]} setup_s={setup_s:.1f} "
          f"run_s={time.perf_counter() - t0:.1f}", file=sys.stderr)
    print(json.dumps({"correct": not fails, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def _dispatch_us(spark, mf_io, depth=8, calls=200):
    """MetaFrame call overhead over raw PySpark: median of 5 batches of
    ``calls`` filter calls on a frame of fixed plan depth, per call."""
    from pyspark.sql import functions as F

    df = spark.range(100)
    for i in range(depth):
        df = df.withColumn(f"c{i}", F.col("id") + i)
    mf = mf_io.wrap(df).with_primary_key("id")
    cond = F.col("c0") > 3

    def batch(frame):
        t = time.perf_counter()
        for _ in range(calls):
            frame.filter(cond)
        return (time.perf_counter() - t) / calls

    diffs = [batch(mf) - batch(df) for _ in range(5)]
    return statistics.median(diffs) * 1e6


if __name__ == "__main__":
    sys.exit(main())
