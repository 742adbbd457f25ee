"""Tracing for one benchmark pass: spans, wrapped layer calls, Spark status
and streaming progress.

Everything here is installed from outside the library and only around the
traced pass, so untraced passes run the library untouched:

- :class:`Tracer` keeps spans in memory (name, start, end, parent span,
  run id) and writes them out with the run's artifact.
- :func:`wrap_layers` replaces the public functions of the instrumented
  modules with counting wrappers, in every ``tamar_spark`` module that
  imported them by name, and undoes that on exit.
- :class:`ProgressListener` collects ``StreamingQueryProgress`` events.
- :class:`StatusApi` reads jobs, stages and executor memory from Spark's
  status REST API; :func:`jobs_in` attributes jobs to spans by submission
  time and :func:`spark_layer` sums their stages' counters.  Queries
  run strictly one after another, so each span owns the contiguous range of
  job ids submitted inside it.  Micro-batch jobs carry the stream's own job
  group, which is why attribution does not use job groups.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import functools
import importlib
import inspect
import json
import sys
import threading
import time
import urllib.request

from pyspark.sql.streaming import StreamingQueryListener

# layer name -> module whose public functions are wrapped
LAYERS = {
    "sources": "tamar_spark.sources",
    "operators.dedup": "tamar_spark.operators.dedup",
    "operators.similarity": "tamar_spark.operators.similarity",
    "operators.cache": "tamar_spark.operators.cache",
    "functions.text": "tamar_spark.functions.text",
}

_MB = float(1 << 20)


class Tracer:
    """In-memory spans of one run; a span's parent is the innermost open
    span on the same thread."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._depth: dict[str, int] = {}
        self.calls: dict[str, int] = {layer: 0 for layer in LAYERS}
        self.call_s: dict[str, float] = {layer: 0.0 for layer in LAYERS}

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        with self._lock:
            sid = len(self.spans)
            rec = {
                "id": sid,
                "parent": stack[-1] if stack else None,
                "name": name,
                "run_id": self.run_id,
                "start": time.time(),
                "end": None,
                **attrs,
            }
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()

    def layer_call(self, layer: str, fn, args, kwargs):
        """Run ``fn`` inside a span; time nested calls of the same layer once."""
        with self._lock:
            self.calls[layer] += 1
            outer = self._depth.get(layer, 0) == 0
            self._depth[layer] = self._depth.get(layer, 0) + 1
        t0 = time.perf_counter()
        try:
            with self.span(f"{layer}.{fn.__name__}", kind="call"):
                return fn(*args, **kwargs)
        finally:
            with self._lock:
                self._depth[layer] -= 1
                if outer:
                    self.call_s[layer] += time.perf_counter() - t0


class _Traced:
    """Counting stand-in for a library function.  Pickles as the original,
    so a Python worker that receives it runs the library untouched."""

    def __init__(self, tracer: Tracer, layer: str, fn):
        functools.update_wrapper(self, fn)
        self._tracer, self._layer, self._fn = tracer, layer, fn

    def __call__(self, *args, **kwargs):
        return self._tracer.layer_call(self._layer, self._fn, args, kwargs)

    def __reduce__(self):
        return getattr, (importlib.import_module(self._fn.__module__), self._fn.__name__)


@contextlib.contextmanager
def wrap_layers(tracer: Tracer):
    """Wrap every public function of :data:`LAYERS` for the duration."""
    originals = {}
    for layer, modname in LAYERS.items():
        mod = importlib.import_module(modname)
        for name, fn in vars(mod).items():
            if inspect.isfunction(fn) and fn.__module__ == modname and not name.startswith("_"):
                originals[id(fn)] = (fn, _Traced(tracer, layer, fn))
    patched = []
    for modname, mod in list(sys.modules.items()):
        if not modname.startswith("tamar_spark") or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            hit = originals.get(id(val))
            if hit is not None and hit[0] is val:
                setattr(mod, attr, hit[1])
                patched.append((mod, attr, val))
    try:
        yield
    finally:
        for mod, attr, val in patched:
            setattr(mod, attr, val)


class ProgressListener(StreamingQueryListener):
    """Collects the progress of every streaming query started while it is
    registered."""

    def __init__(self):
        self.progress: list[dict] = []
        self.started = 0
        self.terminated = 0

    def onQueryStarted(self, event):
        self.started += 1

    def onQueryProgress(self, event):
        self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated += 1

    def drain(self, timeout: float = 15.0) -> None:
        """Wait until the listener bus has delivered every termination."""
        end = time.monotonic() + timeout
        while self.terminated < self.started and time.monotonic() < end:
            time.sleep(0.05)


def streaming_layer(progress: list[dict]) -> dict:
    """Micro-batch phase times and state-store figures, summed over queries;
    state size and instances are each query's last batch."""

    def dur(phase):
        return sum(p.get("durationMs", {}).get(phase, 0) for p in progress) / 1000.0

    last: dict[str, dict] = {}
    for p in progress:
        last[p["runId"]] = p
    final_ops = [op for p in last.values() for op in p.get("stateOperators", [])]
    return {
        "streaming.batches": len(progress),
        "streaming.add_batch_s": dur("addBatch"),
        "streaming.query_planning_s": dur("queryPlanning"),
        "streaming.wal_commit_s": dur("walCommit"),
        "streaming.commit_offsets_s": dur("commitOffsets"),
        "streaming.latest_offset_s": dur("latestOffset"),
        "streaming.state_rows_total": sum(op.get("numRowsTotal", 0) for op in final_ops),
        "streaming.state_memory_mb": sum(op.get("memoryUsedBytes", 0) for op in final_ops) / _MB,
        "streaming.state_commit_s": sum(
            op.get("commitTimeMs", 0) for p in progress for op in p.get("stateOperators", [])
        )
        / 1000.0,
        "streaming.state_store_instances": sum(
            op.get("numStateStoreInstances", 0) for op in final_ops
        ),
    }


class StatusApi:
    """Spark's status REST API of the live application."""

    def __init__(self, sc):
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def settled_jobs(self, since_ms: int, timeout: float = 15.0) -> list[dict]:
        """Jobs submitted at or after ``since_ms``, once none is running."""
        end = time.monotonic() + timeout
        while True:
            jobs = [j for j in self.get("/jobs") if _ms(j["submissionTime"]) >= since_ms]
            if all(j["status"] != "RUNNING" for j in jobs) or time.monotonic() > end:
                return jobs
            time.sleep(0.1)


def _ms(stamp: str) -> int:
    """Epoch milliseconds of a REST timestamp such as 2026-01-01T00:00:00.123GMT."""
    t = dt.datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)


def jobs_in(jobs: list[dict], start: float, end: float) -> list[dict]:
    """Jobs submitted inside ``[start, end)`` (epoch seconds)."""
    lo, hi = int(start * 1000), int(end * 1000)
    return [j for j in jobs if lo <= _ms(j["submissionTime"]) < hi]


def spark_layer(api: StatusApi, jobs: list[dict], wall_s: float, cores: int) -> dict:
    """Scheduler and executor counters of the stages the given jobs ran."""
    stage_ids = {s for j in jobs for s in j["stageIds"]}
    stages = [
        s
        for s in api.get("/stages?withSummaries=true&quantiles=0.5,1.0")
        if s["stageId"] in stage_ids and s["status"] != "SKIPPED"
    ]
    run_ms = sum(s["executorRunTime"] for s in stages)
    cpu_ns = sum(s["executorCpuTime"] for s in stages)
    multi = [s for s in stages if s["numTasks"] > 1]
    med = sum(s["taskMetricsDistributions"]["executorRunTime"][0] for s in multi)
    top = sum(s["taskMetricsDistributions"]["executorRunTime"][1] for s in multi)
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": sum(s["numTasks"] for s in stages),
        "spark.failed_tasks": sum(s["numFailedTasks"] for s in stages),
        "spark.executor_run_s": run_ms / 1000.0,
        "spark.executor_cpu_s": cpu_ns / 1e9,
        "spark.cpu_share": (cpu_ns / 1e9) / (wall_s * cores) if wall_s > 0 else 0.0,
        "spark.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / _MB,
        "spark.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / _MB,
        "spark.spill_mb": sum(s["diskBytesSpilled"] for s in stages) / _MB,
        "spark.single_task_stages": sum(1 for s in stages if s["numTasks"] == 1),
        # slowest task over median task, summed over multi-task stages
        "spark.task_skew": top / med if med > 0 else 1.0,
    }


def jvm_seconds(sc) -> tuple[float, float]:
    """Cumulative JIT compilation and garbage-collection seconds of the
    driver JVM, which also runs the tasks in local mode."""
    mf = sc._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0, gc_ms / 1000.0


def heap_peak_mb(api: StatusApi) -> float:
    peaks = [
        e.get("peakMemoryMetrics", {}).get("JVMHeapMemory", 0) for e in api.get("/executors")
    ]
    return max(peaks, default=0) / _MB

