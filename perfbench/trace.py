"""Tracing for the benchmark's traced runs, kept entirely on the
benchmark side: spans are opened around calls into the engine's public
functions (by wrapping the module attributes the engine itself looks
up at call time), never inside the engine.

Three sources of per-span numbers:

- wall time and py4j round trips, measured in Python around the call;
- Spark jobs, tasks, executor run time, shuffle-write and output
  bytes, attributed to spans through the job group each span sets and
  summed from the uncompressed event log after the session stops;
- ``StatusTracker`` job counts per job group, as a cross-check on the
  event-log attribution.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import resource
import threading
import time
from collections import defaultdict

# Memory-release commands ("m\nd\n<id>\ne\n") are sent by py4j's
# finalizer whenever Python's GC drops a JavaObject, i.e. at
# nondeterministic times. Counting them would make a count that is
# meant to repeat exactly vary from run to run.
_MEMORY_DEL = "m\nd\n"


class Py4jCounter:
    """Counts Python→JVM py4j commands, except memory releases, while
    ``enabled``. ``install`` wraps ``send_command`` on the given client
    class (py4j's ``GatewayClient`` by default, which the ClientServer
    ``JavaClient`` that PySpark uses inherits it from)."""

    def __init__(self) -> None:
        self.calls = 0
        self.enabled = True
        self._lock = threading.Lock()
        self._patched: list[tuple[type, object]] = []

    def install(self, cls: type | None = None) -> None:
        if cls is None:
            from py4j.java_gateway import GatewayClient as cls
        orig = cls.send_command
        counter = self

        def send_command(client, command, *args, **kwargs):
            if counter.enabled and not command.startswith(_MEMORY_DEL):
                with counter._lock:
                    counter.calls += 1
            return orig(client, command, *args, **kwargs)

        cls.send_command = send_command
        self._patched.append((cls, orig))

    def uninstall(self) -> None:
        while self._patched:
            cls, orig = self._patched.pop()
            cls.send_command = orig


class Span:
    __slots__ = ("name", "gid", "parent", "t0", "t1", "py4j", "tag")

    def __init__(self, name: str, gid: str | None, parent: "Span | None", tag) -> None:
        self.name, self.gid, self.parent, self.tag = name, gid, parent, tag
        self.t0 = self.t1 = 0.0
        self.py4j = 0


class Tracer:
    """Records spans in memory. A span with ``jobs=True`` runs under its
    own Spark job group, so every job it launches (and no other) can be
    attributed to it; its parent's group is restored when it ends.
    ``tag`` labels every span opened while it is set (the pass or
    batch the span belongs to)."""

    def __init__(self, sc_getter, counter: Py4jCounter) -> None:
        self._sc = sc_getter
        self.counter = counter
        self.spans: list[Span] = []
        self.active = False
        self.tag = None
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, jobs: bool = True):
        if not self.active:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        sp = Span(name, f"{name}#{len(self.spans)}" if jobs else None, parent, self.tag)
        self.spans.append(sp)
        stack.append(sp)
        sc = self._sc() if jobs else None
        if sc is not None:
            self._set_group(sc, sp)
        c0 = self.counter.calls
        sp.t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            sp.py4j = self.counter.calls - c0
            stack.pop()
            if sc is not None:
                self._set_group(sc, next((s for s in reversed(stack) if s.gid), None))

    def _set_group(self, sc, sp: Span | None) -> None:
        # the tracer's own round trips are not the program's: keep them
        # out of every span's py4j count
        was, self.counter.enabled = self.counter.enabled, False
        try:
            if sp is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            else:
                sc.setJobGroup(sp.gid, sp.name)
        finally:
            self.counter.enabled = was

    def wrap(self, module, attr: str, name: str, jobs: bool = True) -> None:
        """Replace ``module.attr`` by a function that runs the original
        inside a span. Engine code that imports the name at call time,
        or calls it through its module globals, goes through the span."""
        orig = getattr(module, attr)
        tracer = self

        def wrapped(*args, **kwargs):
            with tracer.span(name, jobs=jobs):
                return orig(*args, **kwargs)

        wrapped.__wrapped__ = orig
        setattr(module, attr, wrapped)
        self._patched.append((module, attr, orig))

    def unwrap_all(self) -> None:
        while self._patched:
            module, attr, orig = self._patched.pop()
            setattr(module, attr, orig)

    def group_job_counts(self) -> dict[str, int]:
        """StatusTracker's job count for every span that set a group."""
        st = self._sc().statusTracker()
        return {s.gid: len(st.getJobIdsForGroup(s.gid)) for s in self.spans if s.gid}


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

FIELDS = ("jobs", "tasks", "executor_run_s", "shuffle_write_bytes", "output_bytes")


def _zero() -> dict[str, float]:
    return {f: 0 for f in FIELDS}


def event_log_files(log_dir: str, app_id: str) -> list[str]:
    """The uncompressed event-log files of one application, in order.
    Spark 4 rolls logs into ``eventlog_v2_<app>/events_<n>_<app>``."""
    rolled = glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}", f"events_*_{app_id}"))
    if not rolled:
        raise FileNotFoundError(f"no eventlog_v2_{app_id}/events_* files under {log_dir}")
    return sorted(rolled, key=lambda p: int(os.path.basename(p).split("_")[1]))


def parse_event_log(files: list[str]) -> dict[str, dict]:
    """Sum job, task, executor-run, shuffle-write and output
    metrics per job group and per streaming micro-batch.

    Returns ``{"groups": {group_id: totals}, "batches": {batch_id:
    totals}, "jobs": n, "stages": n}`` where ``stages`` counts stages
    that ran at least one task."""
    job_key: dict[int, tuple[str | None, str | None]] = {}
    stage_job: dict[int, int] = {}
    groups: dict[str, dict] = defaultdict(_zero)
    batches: dict[str, dict] = defaultdict(_zero)
    ran_stages: set[int] = set()

    def sinks(job_id: int):
        g, b = job_key.get(job_id, (None, None))
        if g is not None:
            yield groups[g]
        if b is not None:
            yield batches[b]

    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    job_key[jid] = (props.get("spark.jobGroup.id"), props.get("streaming.sql.batchId"))
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                    for tot in sinks(jid):
                        tot["jobs"] += 1
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    ran_stages.add(sid)
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    out = m.get("Output Metrics") or {}
                    for tot in sinks(stage_job.get(sid, -1)):
                        tot["tasks"] += 1
                        tot["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                        tot["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                        tot["output_bytes"] += out.get("Bytes Written", 0)
    return {"groups": dict(groups), "batches": dict(batches),
            "jobs": len(job_key), "stages": len(ran_stages)}


def span_totals(spans: list[Span], groups: dict[str, dict]) -> dict[int, dict]:
    """Inclusive event-log totals per span (its own jobs plus its
    descendants'), keyed by ``id(span)``."""
    out = {id(s): dict(groups.get(s.gid, _zero())) if s.gid else _zero() for s in spans}
    for s in spans:
        p = s.parent
        own = groups.get(s.gid) if s.gid else None
        while own and p is not None:
            for k, v in own.items():
                out[id(p)][k] += v
            p = p.parent
    return out


# ---------------------------------------------------------------------------
# Memory
# ---------------------------------------------------------------------------

def peak_rss_mb(pid: int | None = None) -> float:
    """Peak resident set size in MiB: of process ``pid`` (from
    /proc/<pid>/status VmHWM), or of this process."""
    if pid is None:
        return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
