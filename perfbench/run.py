#!/usr/bin/env python3
"""Warehouse benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload chain_build --seed 1 --seconds 12 --trace 0

Runs the workload against the package in the checkout that holds this
file, through its public functions only, on ``local[nproc]``. Prints
every metric by name and unit, then, as the last line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. A traced
run also writes its spans to ``.perfbench/traces/``. Exits 1 when an
output is wrong and 2 when the package cannot be imported.

Set-up is timed as ``setup_s``: the program's own set-up work only —
session start and the workload's one-off calls into the package (tables
it materializes, history it ingests, warm-up calls). Generating the
seeded inputs and the expected answers is the benchmark's work and is
left out. Scratch files live under ``.perfbench/`` in the checkout and
are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("chain_build", "serve_live")

# name, unit, better, bound (share of the parent's median)
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("result_s", "s", "lower", 0.25),
    ("query_ms", "ms", "lower", 0.25),
)
STREAM_FIELDS = (
    ("add_batch_ms", "ms"), ("query_planning_ms", "ms"),
    ("latest_offset_ms", "ms"), ("get_batch_ms", "ms"),
    ("wal_commit_ms", "ms"), ("commit_offsets_ms", "ms"),
    ("trigger_ms", "ms"), ("batches", "count"), ("input_rows", "count"),
    ("state_rows", "count"), ("state_mem_bytes", "bytes"),
    ("state_commit_ms", "ms"), ("state_update_ms", "ms"),
    ("start_overhead_ms", "ms"),
)
# (name, unit, better) of the per-layer metrics in a traced run's result
# line. Each is measured on both workloads, so none reads a constant 0:
# streaming figures are summed over the workload's queries, and ``read.*``
# counts the Spark jobs and tasks of one read call (a chain read-back or an
# ADS request). Figures of one query, endpoint or layer that only one
# workload runs are printed as ``detail`` lines.
PER_LAYER = (
    ("self.session_ms", "ms", "lower"),
    ("self.streaming_ms", "ms", "lower"),
    *((f"stream.{f}", u, "lower") for f, u in STREAM_FIELDS),
    ("read.jobs", "count", "lower"),
    ("read.tasks", "count", "lower"),
    ("mem.peak_rss_mb", "MB", "lower"),
)


class Ctx:
    """What a workload sees: the session, its seed and window, the
    measurement helpers, and the dicts it fills with results."""

    def __init__(self, args, work: str):
        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.work = work
        self.spark = None
        self.e2e: dict[str, float] = {}
        self.detail: dict[str, tuple[float, str]] = {}  # name → (value, unit)
        self.named: dict[str, tuple] = {}  # name → (value, unit, samples)
        self.reads: list[tuple[int, int]] = []  # (jobs, tasks) per read call
        self.sizes: dict[str, int] = {}
        self.attempted = self.failed = 0
        self.setup_s = 0.0
        self.failures: list[str] = []
        self.streams: dict[str, list[dict]] = {}
        self._lock = threading.Lock()
        self._errors: list[BaseException] = []
        from tracing import Tracer

        self.tracer = Tracer(f"{args.workload}-{args.seed}", self.trace)
        self.progress = None
        self.jobs = None
        self.clock_offset = time.time() - time.perf_counter()

    def start_session(self) -> None:
        from tracing import JobCounter, ProgressCollector

        from real_time_data_warehouse_spark.session import get_spark

        cpus = len(os.sched_getaffinity(0))
        with self.setup_step(), self.tracer.span("session.get_spark", "session"):
            self.spark = get_spark("perfbench", cpus=cpus)
            self.spark.range(1).count()
        self.jobs = JobCounter(self.spark.sparkContext, self.trace)
        if self.trace:
            self.progress = ProgressCollector()
            self.spark.streams.addListener(self.progress)

    @contextmanager
    def setup_step(self):
        """Add the body's wall time to ``setup_s``: wrap only calls into
        the package, never the benchmark's own input generation."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.setup_s += time.perf_counter() - t

    def check(self, ok: bool, what: str) -> None:
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                self.failures.append(what)

    def thread(self, fn, name: str) -> threading.Thread:
        def body():
            try:
                fn()
            except BaseException as e:  # re-raised by raise_thread_errors
                traceback.print_exc()
                self._errors.append(e)

        th = threading.Thread(target=body, name=name, daemon=True)
        th.start()
        return th

    def raise_thread_errors(self) -> None:
        if self._errors:
            raise self._errors[0]

    def stream_label(self, label: str) -> None:
        """Attribute streaming queries started from now on to ``label``."""
        if self.progress is not None:
            self.progress.next_label = label

    def drop_streams(self, label: str) -> None:
        if self.progress is not None:
            self.progress.wait()
            self.progress.take(label)

    def record_streams(self, span, label: str, names: tuple[str, ...],
                       t_call: float, t_end: float) -> None:
        """Fold the progress records of the queries one call started into
        per-query sums. Query i is reported as ``names[i]`` (the last name
        takes any extra queries, e.g. a restart after a crash); its start
        overhead is its share of the call's wall time minus its triggers."""
        if self.progress is None:
            return
        from tracing import stream_summary

        self.progress.wait()
        queries = self.progress.take(label)
        merged: dict[str, list] = {}
        for i, (start, records) in enumerate(queries):
            name = names[min(i, len(names) - 1)]
            begin = t_call if i == 0 else start
            end = queries[i + 1][0] if i + 1 < len(queries) else t_end
            acc = merged.setdefault(name, [[], 0.0])
            acc[0].extend(records)
            acc[1] += end - begin
            self.tracer.add_batches(span, "streaming", f"stream.{name}", records,
                                    self.clock_offset)
        for name, (records, wall) in merged.items():
            s = stream_summary(records)
            s["start_overhead_ms"] = wall * 1e3 - s["trigger_ms"]
            self.streams.setdefault(name, []).append(s)


def _layer_metrics(ctx: Ctx) -> tuple[dict[str, float], dict[str, tuple[float, str]]]:
    """The PER_LAYER values, and the workload's detail figures."""
    from tracing import self_times

    detail = {f"self.{layer}_ms": (s * 1e3, "ms")
              for layer, s in self_times(ctx.tracer.spans).items()}
    out = {n: detail.get(n, (0.0,))[0] for n in ("self.session_ms", "self.streaming_ms")}
    for f, u in STREAM_FIELDS:
        per_query = {q: statistics.fmean(c[f] for c in calls)
                     for q, calls in ctx.streams.items()}
        out[f"stream.{f}"] = sum(per_query.values())
        detail.update({f"stream.{q}.{f}": (v, u) for q, v in per_query.items()})
    out["read.jobs"] = statistics.median(j for j, _ in ctx.reads)
    out["read.tasks"] = statistics.median(t for _, t in ctx.reads)
    out["mem.peak_rss_mb"] = ctx.named["peak_rss_mb"][0]
    detail.update(ctx.detail)
    return out, detail


def _setup_env(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    ``work``, and let the workers import the package from any cwd."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell")
    # With the package's 8 GB default heap, serve_live's process tree peaked
    # at 11-13 GB resident on a 15 GB, 4-core machine (2 GB heap: at most 5 GB).
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    os.chdir(work)


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run(args) -> int:
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        _setup_env(work)
        try:
            import real_time_data_warehouse_spark as pkg
        except ImportError as e:
            print(f"perfbench: cannot import the warehouse package: {e}", file=sys.stderr)
            return 2
        if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
            print(f"perfbench: the warehouse package resolves outside this checkout: "
                  f"{pkg.__file__}", file=sys.stderr)
            return 2
        from tracing import RssSampler

        wl = __import__(args.workload)
        ctx = Ctx(args, work)
        with RssSampler() as rss:
            try:
                ctx.start_session()
                wl.measure(ctx, wl.prepare(ctx))
            finally:
                if ctx.spark is not None:
                    _stop_spark(ctx.spark)
        ctx.e2e["setup_s"] = ctx.setup_s
        ctx.named["peak_rss_mb"] = (rss.peak_bytes / 2**20, "MB", 1)
        return _report(args, ctx)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no traces are kept
        except OSError:
            pass


def _report(args, ctx: Ctx) -> int:
    units = {n: u for n, u, _, _ in END_TO_END}
    print(f"# {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    for k, v in sorted(ctx.sizes.items()):
        print(f"input {k} {v}")
    for n, _, _, _ in END_TO_END:
        print(f"metric {n} {ctx.e2e[n]:.6g} {units[n]}")
    for n, (v, u, samples) in ctx.named.items():
        print(f"metric {n} {v:.6g} {u} (n={samples})")
    ratio = ctx.failed / ctx.attempted if ctx.attempted else 1.0
    print(f"metric fail_ratio {ratio:.6g} failed/attempted "
          f"({ctx.failed}/{ctx.attempted})")
    for f in ctx.failures[:20]:
        print(f"FAILED {f}")
    if args.trace:
        layer, detail = _layer_metrics(ctx)
        units = {n: u for n, u, _ in PER_LAYER}
        for n, v in layer.items():
            print(f"layer {n} {v:.6g} {units[n]}")
        for n, (v, u) in sorted(detail.items()):
            if n not in layer:
                print(f"detail {n} {v:.6g} {u}")
        out = os.path.join(ROOT, ".perfbench", "traces",
                           f"{args.workload}-seed{args.seed}.json")
        ctx.tracer.dump(out)
        counts = {}
        for s in ctx.tracer.spans:
            counts[s["layer"]] = counts.get(s["layer"], 0) + 1
        print(f"# spans per layer: {counts}; written to {os.path.relpath(out, ROOT)}")
        metrics = {n: {"value": v, "unit": units[n]} for n, v in layer.items()}
    else:
        metrics = {n: {"value": ctx.e2e[n], "unit": units[n]} for n, *_ in END_TO_END}
    correct = ctx.failed == 0 and ctx.attempted > 0
    print(json.dumps({"correct": correct, "attempted": max(ctx.attempted, 1),
                      "failed": ctx.failed, "metrics": metrics}))
    return 0 if correct else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
