"""Tracing for the per-layer run: spans, Spark job groups, event-log totals
and prefix differencing. All of it lives in the benchmark; the program is
observed only through its public functions.

* ``Tracer.wrap`` rebinds a public module attribute (for example
  ``tiflow_spark.sinks.bucketed.merge_hash_bucketed``) to a wrapper that
  records a span and tags the Spark jobs it runs with the layer as job
  group. Callers that import the name at call time pick the wrapper up.
* ``engine_totals`` sums task metrics per job group from the Spark event
  log, which the traced run enables at session start.
* ``prefix_times`` times a ``noop`` materialisation of each cumulative
  prefix of a lazy pipeline; a layer's self time is the difference between
  consecutive prefixes.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time
import uuid
from collections import defaultdict

ENGINE_LAYERS = ("streaming", "operators", "sinks", "codecs", "consumer", "validation")
ENGINE_FIELDS = ("shuffle_write_bytes", "shuffle_read_bytes", "task_cpu_ms", "spill_bytes")
_GROUP = "spark.jobGroup.id"


class Tracer:
    """In-memory span recorder. Disabled tracers cost one attribute check
    per wrapped call."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "name": name,
            "layer": layer,
            "run_id": self.run_id,
            "parent": stack[-1]["name"] if stack else None,
            "thread": threading.get_ident(),
        }
        prev = self.sc.getLocalProperty(_GROUP)
        self.sc.setLocalProperty(_GROUP, layer)
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(_GROUP, prev)
            with self._lock:
                self.spans.append(rec)

    def wrap(self, module, attr: str, layer: str, before=None, after=None):
        """Rebind ``module.attr`` to a span-recording wrapper. ``before`` /
        ``after`` hooks receive the call's arguments (and the span record)
        to collect counts at the same boundary."""
        orig = getattr(module, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            state = before(*args, **kwargs) if before else None
            with tracer.span(attr, layer) as rec:
                out = orig(*args, **kwargs)
            if after:
                after(rec, state, *args, **kwargs)
            return out

        setattr(module, attr, wrapper)
        self._patched.append((module, attr, orig))

    def unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    def durations_ms(self, name: str) -> list[float]:
        return [
            (s["end"] - s["start"]) * 1e3 for s in self.spans if s["name"] == name
        ]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def engine_totals(event_log_dir: str) -> dict[str, float]:
    """Per job group task totals from a finished Spark event log:
    ``<group>.shuffle_write_bytes`` etc. for every engine layer, plus
    ``jvm.gc_ms`` over all tasks. Jobs outside the named groups count
    toward ``streaming`` when a streaming query ran them, else nowhere."""
    files = sorted(
        os.path.join(d, f)
        for d, _, names in os.walk(event_log_dir)
        for f in names
        if not f.startswith((".", "appstatus"))
    )
    stage_group: dict[int, str] = {}
    totals: dict[str, float] = defaultdict(float)
    gc_ms = 0.0
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get(_GROUP)
                    if group not in ENGINE_LAYERS:
                        group = (
                            "streaming"
                            if props.get("sql.streaming.queryId")
                            else None
                        )
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    gc_ms += m.get("JVM GC Time", 0)
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    totals[f"{group}.shuffle_write_bytes"] += sw.get(
                        "Shuffle Bytes Written", 0
                    )
                    totals[f"{group}.shuffle_read_bytes"] += sr.get(
                        "Remote Bytes Read", 0
                    ) + sr.get("Local Bytes Read", 0)
                    totals[f"{group}.task_cpu_ms"] += (
                        m.get("Executor CPU Time", 0) / 1e6
                    )
                    totals[f"{group}.spill_bytes"] += m.get(
                        "Memory Bytes Spilled", 0
                    ) + m.get("Disk Bytes Spilled", 0)
    out = {
        f"{layer}.{field}": float(totals.get(f"{layer}.{field}", 0.0))
        for layer in ENGINE_LAYERS
        for field in ENGINE_FIELDS
    }
    out["jvm.gc_ms"] = gc_ms
    return out


def noop_ms(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return (time.perf_counter() - t0) * 1e3


def prefix_times(tracer, prefixes, reps: int = 2, clear_cache: bool = True):
    """Median ``noop`` materialisation time (ms) and row count of each
    cumulative prefix ``(name, frame, layer)``, in the given order, each
    under a span of its layer. Reps rotate through the prefixes so slow
    drift hits them alike."""
    spark = prefixes[0][1].sparkSession
    times: dict[str, list[float]] = {name: [] for name, _, _ in prefixes}
    for _ in range(reps):
        for name, df, layer in prefixes:
            if clear_cache:
                spark.catalog.clearCache()
            with tracer.span(f"prefix:{name}", layer):
                times[name].append(noop_ms(df))
    rows = {name: df.count() for name, df, _ in prefixes}
    return {n: statistics.median(t) for n, t in times.items()}, rows
