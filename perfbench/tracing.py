"""Tracing for the benchmark's traced runs, all from outside the engine.

* ``Tracer`` keeps spans (name, start, end, parent) in memory; the run
  writes them out when it ends.
* ``install`` wraps ``functions.legs.parallel_legs``,
  ``registry.track_cache`` and ``streaming.liveness.stream_clone``. It
  must run before ``registry.load_all()``, because the operator modules
  bind those names when they are imported.
* ``StreamProbe`` is a ``StreamingQueryListener`` attached to the
  caller's session and to every ``stream_clone`` session; it records
  each micro-batch's progress.
* ``SparkProbe`` reads jobs and stages from the JVM status store (the
  UI stays off) and attributes them to an operation by its time window:
  with one client, every job submitted in the window belongs to it,
  micro-batch jobs included.
"""

from __future__ import annotations

import itertools
import json
import math
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """In-memory span recorder; a no-op while ``enabled`` is false."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def current(self) -> int | None:
        stack = self._stack()
        return stack[-1] if stack else None

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent if parent is not None else self.current(),
            "start": time.perf_counter(),
        }
        stack.append(rec["id"])
        try:
            yield rec["id"]
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def mark(self) -> int:
        with self._lock:
            return len(self.spans)

    def since(self, mark: int) -> list[dict]:
        with self._lock:
            return self.spans[mark:]


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per span name not covered by the span's own children
    (children that overlap each other, like concurrent legs, count
    once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        covered, reach = 0.0, s["start"]
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, reach), min(b, s["end"])
            if b > a:
                covered += b - a
                reach = b
        dur = s["end"] - s["start"]
        out[s["name"]] = out.get(s["name"], 0.0) + dur - covered
    return out


class StreamProbe(StreamingQueryListener):
    """Collects micro-batch progress from every session it is attached
    to, while its tracer is enabled."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self.batches: list[dict] = []
        self.started = 0
        self.terminated = 0
        self._sessions: dict[int, object] = {}
        self._lock = threading.Lock()

    def attach(self, session) -> None:
        with self._lock:
            if id(session) in self._sessions:
                return
            self._sessions[id(session)] = session
        session.streams.addListener(self)

    def detach_all(self) -> None:
        with self._lock:
            sessions = list(self._sessions.values())
            self._sessions.clear()
        for s in sessions:
            s.streams.removeListener(self)

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.started += 1

    def onQueryProgress(self, event) -> None:
        if not self.tracer.enabled:
            return
        p = event.progress
        dur = dict(p.durationMs)
        rec = {
            "query": str(p.id),
            "rows": p.numInputRows,
            "add_batch_ms": dur.get("addBatch", 0),
            "trigger_ms": dur.get("triggerExecution", 0),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
            "commit_ms": sum(s.commitTimeMs for s in p.stateOperators),
        }
        with self._lock:
            self.batches.append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self.terminated += 1

    def drain(self, timeout: float = 10.0) -> None:
        """Wait until every started query's events have arrived (the
        termination event is posted after the query's last progress)."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self._lock:
                if self.terminated >= self.started:
                    return
            time.sleep(0.01)

    def mark(self) -> int:
        with self._lock:
            return len(self.batches)

    def since(self, mark: int) -> list[dict]:
        with self._lock:
            return self.batches[mark:]


def install(tracer: Tracer, probe: StreamProbe) -> None:
    """Wrap the engine's leg runner, tracked cache and stream session
    factory. Call before ``registry.load_all()``."""
    from cs686_big_data_p1_spark import registry
    from cs686_big_data_p1_spark.functions import legs
    from cs686_big_data_p1_spark.streaming import liveness

    run_legs = legs.parallel_legs

    def parallel_legs(*thunks):
        if not tracer.enabled:
            return run_legs(*thunks)
        with tracer.span("legs") as legs_id:

            def traced(thunk):
                def leg():
                    with tracer.span("leg", parent=legs_id):
                        return thunk()

                return leg

            return run_legs(*[traced(t) for t in thunks])

    track = registry.track_cache

    def track_cache(df, eager=False):
        if not tracer.enabled:
            return track(df, eager)
        with tracer.span("eager_cache" if eager else "lazy_cache"):
            return track(df, eager)

    clone = liveness.stream_clone

    def stream_clone(spark, state_partitions=None):
        session = clone(spark, state_partitions)
        if tracer.enabled:
            probe.attach(session)
        return session

    legs.parallel_legs = parallel_legs
    registry.track_cache = track_cache
    liveness.stream_clone = stream_clone


class SparkProbe:
    """Job, stage and storage figures from the JVM status store."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self.cores = sc.defaultParallelism
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(
            jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"
        ).__getattr__("MODULE$")
        self._mapper.registerModule(scala_module)
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._no_status = jvm.java.util.ArrayList()

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def settle(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def cached_bytes(self) -> int:
        return sum(
            r["memoryUsed"] + r["diskUsed"] for r in self._json(self._store.rddList(True))
        )

    def window(self, t0: float, t1: float, split: float | None = None) -> dict:
        """Totals over the jobs submitted in wall-clock window [t0, t1];
        jobs submitted before ``split`` also count as construct jobs."""
        self.settle()
        lo, hi = math.floor(t0 * 1000), math.ceil(t1 * 1000)
        jobs = [
            j
            for j in self._json(self._store.jobsList(None))
            if j.get("submissionTime") is not None
            and lo <= j["submissionTime"] <= hi
        ]
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [
            s
            for s in self._json(
                self._store.stageList(
                    None, False, False, self._no_quantiles, self._no_status
                )
            )
            if s["stageId"] in stage_ids and s["status"] == "COMPLETE"
        ]
        out = {
            "jobs": len(jobs),
            "construct_jobs": sum(
                1 for j in jobs if split is not None and j["submissionTime"] <= split * 1000
            ),
            "stages": len(stages),
            "tasks": sum(s["numCompleteTasks"] for s in stages),
            "core_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "input_bytes": sum(s["inputBytes"] for s in stages),
            "input_records": sum(s["inputRecords"] for s in stages),
            "output_bytes": sum(s["outputBytes"] for s in stages),
            "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "dup_core_s": 0.0,
        }
        # Duplicate-stage detector: a stage signature (name, tasks,
        # input bytes, shuffle-write bytes) run more than once in one
        # operation is recomputation; its runs beyond the longest are
        # excess core-seconds.
        sigs: dict[tuple, list[float]] = {}
        for s in stages:
            key = (s["name"], s["numCompleteTasks"], s["inputBytes"], s["shuffleWriteBytes"])
            sigs.setdefault(key, []).append(s["executorRunTime"] / 1e3)
        for times in sigs.values():
            if len(times) > 1:
                out["dup_core_s"] += sum(times) - max(times)
        return out
