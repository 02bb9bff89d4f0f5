"""Measurement plumbing: spans, streaming progress, Spark job counts, RSS.

Everything here observes the warehouse from outside, through public
calls: spans wrap the benchmark's calls into each layer, streaming phase
times come from the queries' progress records (delivered to a
``StreamingQueryListener``), and job and task counts come from
``setJobGroup`` plus ``statusTracker()`` around a call.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

# durationMs keys of a progress record, in the order a micro-batch runs
# them, and the per-layer names they are reported under.
PHASES = (
    ("latestOffset", "latest_offset"),
    ("walCommit", "wal_commit"),
    ("getBatch", "get_batch"),
    ("queryPlanning", "query_planning"),
    ("addBatch", "add_batch"),
    ("commitOffsets", "commit_offsets"),
)


class Tracer:
    """Spans kept in memory, written once by :meth:`dump`. A span is
    (name, layer, start, end, parent); start and end are seconds on the
    ``perf_counter`` clock. When ``enabled`` is false every method is a
    no-op, so the untraced run pays nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _add(self, name, layer, start, end, parent) -> int:
        with self._lock:
            self.spans.append({"id": len(self.spans), "name": name,
                               "layer": layer, "start": start, "end": end,
                               "parent": parent, "run": self.run_id})
            return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, layer: str):
        """Time the body as a span whose parent is the span open on this
        thread, if any. Yields the span id (None when disabled)."""
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = self._add(name, layer, time.perf_counter(), None,
                        stack[-1] if stack else None)
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            self.spans[sid]["end"] = time.perf_counter()

    def add_batches(self, parent: int | None, layer: str, label: str,
                    records: list[dict], clock_offset: float) -> None:
        """Attach each progress record as a trigger span under ``parent``
        with its phases laid out in execution order as child spans.
        ``clock_offset`` is epoch seconds minus span-clock seconds."""
        if not self.enabled or parent is None:
            return
        for rec in records:
            dur = rec.get("durationMs") or {}
            start = _epoch(rec["timestamp"]) - clock_offset
            trig = self._add(f"{label}.trigger", layer, start,
                             start + dur.get("triggerExecution", 0) / 1e3, parent)
            at = start
            for key, short in PHASES:
                ms = dur.get(key)
                if ms:
                    self._add(f"{label}.{short}", layer, at, at + ms / 1e3, trig)
                    at += ms / 1e3

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _epoch(ts: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per-layer self time in seconds: each span's duration minus the part
    of its interval covered by its children, summed by layer."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        if s["end"] is None:
            continue
        covered, at = 0.0, s["start"]
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, at), min(b, s["end"])
            if b > a:
                covered += b - a
                at = b
        out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"]) - covered
    return out


class ProgressCollector(StreamingQueryListener):
    """Keeps every progress record of every query, keyed by query id, and
    the label of the call that started the query with its start time.
    Started events arrive synchronously inside ``start()``; progress and
    terminated events arrive later on the listener bus, so :meth:`wait`
    blocks until every labelled query has terminated."""

    def __init__(self):
        self.label_of: dict[str, tuple[str, float]] = {}
        self.records: dict[str, list[dict]] = {}
        self.done: set[str] = set()
        self.next_label = "unlabelled"
        self._cv = threading.Condition()

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        with self._cv:
            self.label_of[str(event.id)] = (self.next_label, time.perf_counter())

    def onQueryProgress(self, event) -> None:  # noqa: N802
        rec = json.loads(event.progress.json)
        with self._cv:
            self.records.setdefault(rec["id"], []).append(rec)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        with self._cv:
            self.done.add(str(event.id))
            self._cv.notify_all()

    def wait(self, timeout: float = 30.0) -> None:
        with self._cv:
            self._cv.wait_for(lambda: set(self.label_of) <= self.done, timeout)

    def take(self, label: str) -> list[tuple[float, list[dict]]]:
        """(start time, records) of each query started under ``label``,
        in start order; forgets them."""
        with self._cv:
            mine = [q for q, (lab, _) in self.label_of.items() if lab == label]
            out = [(self.label_of.pop(q)[1], self.records.pop(q, [])) for q in mine]
            self.done.difference_update(mine)
            return out


def stream_summary(records: list[dict]) -> dict[str, float]:
    """Sums over one query's micro-batches: phase and trigger ms, batches,
    input rows, state commit/update ms; final state rows and memory."""
    out = {f"{short}_ms": 0.0 for _, short in PHASES}
    out.update(trigger_ms=0.0, batches=0, input_rows=0, state_commit_ms=0.0,
               state_update_ms=0.0, state_rows=0, state_mem_bytes=0)
    for rec in records:
        dur = rec.get("durationMs") or {}
        for key, short in PHASES:
            out[f"{short}_ms"] += dur.get(key, 0)
        out["trigger_ms"] += dur.get("triggerExecution", 0)
        out["batches"] += 1
        out["input_rows"] += rec.get("numInputRows") or 0
        ops = rec.get("stateOperators") or []
        out["state_commit_ms"] += sum(o.get("commitTimeMs", 0) for o in ops)
        out["state_update_ms"] += sum(o.get("allUpdatesTimeMs", 0) for o in ops)
        if ops:
            out["state_rows"] = sum(o.get("numRowsTotal", 0) for o in ops)
            out["state_mem_bytes"] = sum(o.get("memoryUsedBytes", 0) for o in ops)
    return out


class JobCounter:
    """Spark jobs and tasks of one call, via a per-call job group on the
    calling thread. Streaming micro-batches run in their own job group
    and are not counted here."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self._n = 0
        self._lock = threading.Lock()

    @contextmanager
    def group(self, name: str):
        """Yields a dict that holds ``jobs`` and ``tasks`` after the body."""
        out = {"jobs": 0, "tasks": 0}
        if not self.enabled:
            yield out
            return
        with self._lock:
            self._n += 1
            gid = f"perfbench-{self._n}-{name}"
        self.sc.setJobGroup(gid, name)
        try:
            yield out
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            st = self.sc.statusTracker()
            for jid in st.getJobIdsForGroup(gid):
                out["jobs"] += 1
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else []:
                    stage = st.getStageInfo(sid)
                    out["tasks"] += stage.numTasks if stage else 0


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    Spark JVM and its Python workers), sampled every ``PERIOD`` s."""

    PERIOD = 0.25

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        page = os.sysconf("SC_PAGE_SIZE")
        while True:
            self.peak_bytes = max(self.peak_bytes, _tree_rss(os.getpid(), page))
            if self._stop.wait(self.PERIOD):
                return


def _tree_rss(root: int, page: int) -> int:
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        rss[pid] = int(fields[21]) * page
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total
