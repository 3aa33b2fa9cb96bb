"""Shared benchmark machinery: output canonicalization, the in-memory span
tracer, per-operation job groups, the Spark event-log reader and
operation accounting.

Everything here observes the engine from outside.  Tracing (spans, job
groups, forced planning, the event log) is switched on only for a
``--trace 1`` run, so the end-to-end numbers come from an untraced run.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import json
import math
import os
import statistics
import time
from contextlib import contextmanager

now = time.perf_counter


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def pass_median(latency: dict[str, list[float]]) -> float:
    """Median over passes of each pass's median operation latency.

    ``latency`` maps each operation to its per-pass samples.  Pooling
    every sample instead would put the median at the edge between two
    operations' clusters (the slowest sample of one, the fastest of the
    next), the noisiest order statistics there are."""
    return median(median(p) for p in zip(*latency.values()))


# ---------------------------------------------------------------------------
# Output canonicalization (same rules as the repo's oracle gate)
# ---------------------------------------------------------------------------


def _norm(v) -> str:
    if v is None:
        return "\0NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, list):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def canon(rows, columns) -> tuple[int, list[str], str]:
    """(row count, sorted column names, value hash) — order-insensitive in
    both rows and columns."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    mat = sorted("\x01".join(_norm(r[i]) for i in order) for r in rows)
    digest = hashlib.sha256("\n".join(mat).encode()).hexdigest()[:16]
    return len(mat), [columns[i] for i in order], digest


def spark_canon(df):
    return canon(df.collect(), df.columns)


def duck_canon(con, sql: str):
    rel = con.sql(sql)
    return canon(rel.fetchall(), [d[0] for d in rel.description])


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans ``(name, start, end, parent, run_id)``, written out
    once when the run ends.  Disabled tracers record nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[list] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, now(), None, parent, self.run_id])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = now()

    @contextmanager
    def paused(self):
        """No spans or job groups inside (untimed warm-up work)."""
        enabled, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = enabled

    def durations(self, name: str) -> list[float]:
        return [e - s for n, s, e, _, _ in self.spans if n == name]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the time covered
        by direct children (children never overlap — one thread)."""
        child = [0.0] * len(self.spans)
        for _, s, e, parent, _ in self.spans:
            if parent is not None:
                child[parent] += e - s
        out: dict[str, float] = {}
        for i, (name, s, e, _, _) in enumerate(self.spans):
            out[name] = out.get(name, 0.0) + (e - s) - child[i]
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for i, (name, s, e, parent, run) in enumerate(self.spans):
                f.write(json.dumps({"id": i, "name": name, "start": s,
                                    "end": e, "parent": parent,
                                    "run": run}) + "\n")
            json.dump({"self_s": self.self_times()}, f)
            f.write("\n")


# ---------------------------------------------------------------------------
# Per-operation job groups (statusTracker) and the event log
# ---------------------------------------------------------------------------


class Jobs:
    """Puts each traced operation phase in its own job group and counts
    its jobs and stages through ``statusTracker``."""

    def __init__(self, spark, tracer: Tracer):
        self.sc = spark.sparkContext
        self.tracer = tracer
        self._seq = 0

    @contextmanager
    def group(self, name: str):
        """Span + job group around one phase; yields the group id (None
        when tracing is off)."""
        if not self.tracer.enabled:
            yield None
            return
        self._seq += 1
        gid = f"{self.tracer.run_id}/{self._seq}/{name}"
        self.sc.setJobGroup(gid, name)
        try:
            with self.tracer.span(name):
                yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def counts(self, gid: str | None) -> tuple[int, int]:
        """(jobs, stages) launched under ``gid``."""
        if gid is None:
            return 0, 0
        st = self.sc.statusTracker()
        jobs = list(st.getJobIdsForGroup(gid))
        stages = 0
        for j in jobs:
            info = st.getJobInfo(j)
            stages += len(info.stageIds) if info is not None else 0
        return len(jobs), stages


class EventLog:
    """Task metrics from a finished Spark event log, keyed by job group
    (batch jobs) or by ``(queryId, batchId)`` (streaming micro-batches)."""

    def __init__(self, log_dir: str):
        self.by_group: dict[str, dict] = {}
        self.by_batch: dict[tuple[str, str], dict] = {}
        for name in os.listdir(log_dir):
            # Stage ids restart in every application (one log per session).
            stage_key: dict[int, tuple] = {}
            with open(os.path.join(log_dir, name)) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        # Micro-batch jobs also carry a job group (the
                        # query's run id), so test the query id first.
                        key = None
                        if props.get("sql.streaming.queryId"):
                            key = ("b", (props["sql.streaming.queryId"],
                                         props.get("streaming.sql.batchId")))
                        elif props.get("spark.jobGroup.id"):
                            key = ("g", props["spark.jobGroup.id"])
                        for sid in ev.get("Stage IDs", []):
                            stage_key[sid] = key
                    elif kind == "SparkListenerTaskEnd":
                        key = stage_key.get(ev.get("Stage ID"))
                        if key is None:
                            continue
                        table = self.by_group if key[0] == "g" else self.by_batch
                        acc = table.setdefault(key[1], _empty_acc())
                        _add_task(acc, ev)

    def group(self, gid: str | None) -> dict:
        return self.by_group.get(gid, _empty_acc()) if gid else _empty_acc()


def _empty_acc() -> dict:
    return {"tasks": 0, "task_s": [], "shuffle_bytes": 0, "spill_bytes": 0,
            "input_bytes": 0, "output_bytes": 0}


def _add_task(acc: dict, ev: dict) -> None:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    acc["tasks"] += 1
    acc["task_s"].append(
        (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
    )
    acc["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0
    )
    acc["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    acc["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    acc["output_bytes"] += (m.get("Output Metrics") or {}).get(
        "Bytes Written", 0
    )


# ---------------------------------------------------------------------------
# JVM observations
# ---------------------------------------------------------------------------


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def jvm_gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory
    return sum(
        max(b.getCollectionTime(), 0)
        for b in beans.getGarbageCollectorMXBeans()
    ) / 1000.0


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def dir_bytes(path: str, suffix: str = "") -> tuple[int, int]:
    """(total bytes, file count) of regular files under ``path`` whose
    name ends with ``suffix`` (hidden/underscore files skipped)."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")) or not n.endswith(suffix):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


# ---------------------------------------------------------------------------
# Operations: attempt/failure accounting, latency, per-op job groups
# ---------------------------------------------------------------------------


class Ops:
    """Counts every operation attempted, times the ones that succeed and,
    when tracing, runs each in its own job group and records its
    ``(gid, jobs, stages)`` right after it finishes (statusTracker only
    retains recent jobs)."""

    def __init__(self, jobs: Jobs):
        self.jobs = jobs
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.latency: dict[str, list[float]] = {}
        self.groups: dict[str, list[tuple[str, int, int]]] = {}

    def check(self, ok: bool, what: str) -> None:
        """One output check, counted as an operation."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    @contextmanager
    def op(self, name: str, group: bool = True):
        """One timed operation.  ``group=False`` when the caller splits it
        into phases with their own job groups."""
        self.attempted += 1
        t = now()
        try:
            if group:
                with self.phase(name):
                    yield
            else:
                with self.jobs.tracer.span(name):
                    yield
        except Exception as e:  # noqa: BLE001 — a failed op is a data point
            self.failed += 1
            self.errors.append(f"{name}: {type(e).__name__}: {e}"[:500])
        else:
            self.latency.setdefault(name, []).append(now() - t)

    @contextmanager
    def phase(self, name: str):
        """A span and job group; its ``(gid, jobs, stages)`` is recorded
        under ``name`` when it finishes."""
        with self.jobs.group(name) as gid:
            yield
        if gid is not None:
            self.groups.setdefault(name, []).append(
                (gid, *self.jobs.counts(gid))
            )


def loop_passes(seconds: float, tracer: Tracer, one_pass) -> tuple[list, list]:
    """Run ``one_pass()`` until ``seconds`` have elapsed (at least once).
    A traced run alternates traced and untraced passes (at least one of
    each) so the tracing overhead can be measured in the same process.
    Returns (untraced pass seconds, traced pass seconds)."""
    trace = tracer.enabled
    plain, traced = [], []
    start = now()
    i = 0
    while True:
        tracer.enabled = trace and i % 2 == 0
        t = now()
        one_pass()
        (traced if tracer.enabled else plain).append(now() - t)
        i += 1
        if now() - start >= seconds and (not trace or i >= 2):
            break
    tracer.enabled = trace
    return plain, traced
