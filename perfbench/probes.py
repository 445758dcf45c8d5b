"""Spans, counts and the probes behind the per-layer metrics.

Everything here runs in the benchmark process and records at the calls
*into* each layer's public functions; nothing inside ``pypond_spark/`` is
edited.  The untraced run uses a disabled :class:`Tracer`, whose spans
are a shared no-op context manager, so the end-to-end numbers carry no
probe cost besides the RSS sampler every run shares.

Sources of the counts:

- py4j calls: the gateway client's ``send_command`` is wrapped and counts
  the client thread's calls, minus the tracer's own reads;
- jobs, stages, tasks, task CPU and shuffle bytes: Spark's status store
  (``AppStatusStore``), for the job ids a phase launched;
- bytes to and from Python workers: the SQL status store's
  ``data sent to / returned from Python workers`` metrics of the phase's
  SQL executions;
- GC time: the JVM's ``GarbageCollectorMXBean`` s;
- micro-batch phases and state-store numbers: a Python
  ``StreamingQueryListener``.

Spans are kept in memory and written as JSON when the run ends.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import os
import pkgutil
import re
import sys
import threading
import time
from contextlib import contextmanager, nullcontext

# Phases whose Spark jobs are attributed to them: a snapshot of the job
# id, SQL execution count and GC time is taken at their boundaries.
JOB_PHASES = ("build", "drain", "plan", "exec", "push.process")
# Phases that execute work (their jobs feed the exec.* counters).
EXEC_PHASES = ("exec", "drain", "push.process")
# Layer spans recorded around calls into the package, by module prefix.
LAYER_PACKAGES = {
    "series": "pypond_spark.series",
    "operators": "pypond_spark.operators",
    "functions": "pypond_spark.functions",
    "plans": "pypond_spark.plans",
    "datapipe": "pypond_spark.datapipe",
    "streaming": "pypond_spark.streaming.stream",
}
# Spans whose self time is reported as ``self.<name>_s``.
SELF_TIME_SPANS = ("build", "series", "operators", "functions", "plans",
                   "datapipe", "streaming", "drain", "plan", "exec",
                   "push.add_event", "push.process")
PY_BYTES = ("data sent to Python workers", "data returned from Python workers")
_SIZE = re.compile(r"([\d.]+) (B|KiB|MiB|GiB|TiB)\b")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40}
_NODE = re.compile(r"^[\s:+|-]*(?:\*\(\d+\)\s*)?(\w+)")
_NULL = nullcontext()


def parse_size(text: str) -> float:
    """Bytes of the first size in a formatted SQL size metric
    (``"total (min, med, max ...)\\n1216.0 B (...)"``)."""
    m = _SIZE.search(text)
    return float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0


def plan_node_counts(tree: str) -> dict[str, int]:
    """Exchange, window and Python-evaluation nodes in a physical plan's
    tree string."""
    names = [m.group(1) for line in tree.splitlines()
             if (m := _NODE.match(line))]
    return {
        "plan.exchanges": sum("Exchange" in n for n in names),
        "plan.window_nodes": sum(n.startswith("Window") for n in names),
        "plan.python_nodes": sum(bool(re.search("Python|InPandas|InArrow", n))
                                 for n in names),
    }


class Tracer:
    """Span and count recorder for one benchmark run (one client thread)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op_counts: list[dict[str, float]] = []
        self._stack: list[int] = []
        self._layer_depth: dict[str, int] = {}
        self._op = -1
        self._py4j = 0
        self._own = 0
        self._client = threading.get_ident()
        self._lock = threading.Lock()
        self._jsc = None

    # -- recording ----------------------------------------------------------
    def begin_op(self) -> None:
        self._op += 1
        self.op_counts.append({})

    def count(self, name: str, value: float = 1) -> None:
        with self._lock:
            counts = self.op_counts[self._op]
            counts[name] = counts.get(name, 0) + value

    def span(self, name: str):
        return self._span(name) if self.enabled else _NULL

    @contextmanager
    def _span(self, name: str):
        rec = {"name": name, "op": self._op,
               "parent": self._stack[-1] if self._stack else None}
        if name in JOB_PHASES:
            rec["snap0"] = self._snapshot()
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        rec["py4j0"] = self._py4j
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            rec["py4j"] = self._py4j - rec.pop("py4j0")
            self._stack.pop()
            if name in JOB_PHASES:
                rec["snap1"] = self._snapshot()

    # -- JVM probes ---------------------------------------------------------
    def attach(self, spark) -> None:
        """Wrap the py4j client and register the streaming listener."""
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        beans = (sc._jvm.java.lang.management.ManagementFactory
                 .getGarbageCollectorMXBeans())
        self._gc_beans = [beans.get(i) for i in range(beans.size())]
        client = sc._gateway._gateway_client
        send = client.send_command

        def counting_send(*args, **kwargs):
            if not self._own and threading.get_ident() == self._client:
                self._py4j += 1
            return send(*args, **kwargs)

        client.send_command = counting_send
        spark.streams.addListener(_progress_listener(self))

    @contextmanager
    def _quiet(self):
        """The tracer's own JVM reads are not counted as py4j calls."""
        self._own += 1
        try:
            yield
        finally:
            self._own -= 1

    def _snapshot(self) -> tuple[int, int, int]:
        """(next job id, SQL execution count, GC ms) once every queued
        listener event, including streaming progress, is processed."""
        with self._quiet():
            self._jsc.listenerBus().waitUntilEmpty()
            return (self._jsc.dagScheduler().nextJobId(),
                    self._sql_store.executionsCount(),
                    sum(b.getCollectionTime() for b in self._gc_beans))

    def _job_metrics(self, job_ids: list[int]) -> dict[str, float]:
        store = self._jsc.statusStore()
        out = {"jobs": len(job_ids), "stages": 0, "tasks": 0,
               "task_cpu_s": 0.0, "shuffle_write_bytes": 0,
               "shuffle_read_bytes": 0}
        for jid in job_ids:
            stage_ids = store.job(jid).stageIds()
            for i in range(stage_ids.size()):
                stage = store.lastStageAttempt(stage_ids.apply(i))
                if stage.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += stage.numCompleteTasks()
                out["task_cpu_s"] += stage.executorCpuTime() / 1e9
                out["shuffle_write_bytes"] += stage.shuffleWriteBytes()
                out["shuffle_read_bytes"] += stage.shuffleReadBytes()
        return out

    def _python_bytes(self, first: int, last: int) -> float:
        if last <= first:
            return 0.0
        total = 0.0
        execs = self._sql_store.executionsList(first, last - first)
        for i in range(execs.size()):
            ex = execs.apply(i)
            values = self._sql_store.executionMetrics(ex.executionId())
            metrics = ex.metrics()
            for j in range(metrics.size()):
                m = metrics.apply(j)
                if m.name() in PY_BYTES and values.contains(m.accumulatorId()):
                    total += parse_size(values.apply(m.accumulatorId()))
        return total

    # -- per-op summary -----------------------------------------------------
    def end_op(self) -> None:
        """Fold the finished op's spans into its per-layer counts."""
        if not self.enabled:
            return
        spans = [(i, s) for i, s in enumerate(self.spans)
                 if s["op"] == self._op]
        children: dict[int, list[dict]] = {}
        for _, s in spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        counts = self.op_counts[self._op]
        with self._quiet():
            for i, s in spans:
                dur = s["end"] - s["start"]
                kids = children.get(i, [])
                self_s = dur - sum(k["end"] - k["start"] for k in kids)
                key = f"self.{s['name'].replace('.', '_')}_s"
                counts[key] = counts.get(key, 0.0) + self_s
                if s["name"].startswith("push."):
                    key = f"{s['name']}_s"
                    counts[key] = counts.get(key, 0.0) + dur
                if s["name"] == "build":
                    drains = [k for k in kids if k["name"] == "drain"]
                    counts["build.s"] = counts.get("build.s", 0.0) + dur - sum(
                        k["end"] - k["start"] for k in drains)
                    counts["build.py4j_calls"] = counts.get(
                        "build.py4j_calls", 0) + s["py4j"] - sum(
                        k["py4j"] for k in drains)
                if s["name"] not in JOB_PHASES:
                    continue
                job_ids, executions, gc_ms = self._own_range(s, kids)
                if s["name"] == "build":
                    counts["build.jobs"] = counts.get("build.jobs", 0) + len(
                        job_ids)
                if s["name"] in EXEC_PHASES:
                    counts["exec.s"] = counts.get("exec.s", 0.0) + dur
                    for k, v in self._job_metrics(job_ids).items():
                        counts[f"exec.{k}"] = counts.get(f"exec.{k}", 0) + v
                    counts["exec.python_bytes"] = counts.get(
                        "exec.python_bytes", 0) + sum(
                        self._python_bytes(a, b) for a, b in executions)
                    counts["exec.gc_ms"] = counts.get("exec.gc_ms", 0) + gc_ms
                if s["name"] == "plan":
                    counts["plan.s"] = counts.get("plan.s", 0.0) + dur

    @staticmethod
    def _own_range(span: dict, kids: list[dict]):
        """Job ids, SQL-execution ranges and GC ms of a phase span minus
        those of its nested phase spans."""
        (j0, e0, g0), (j1, e1, g1) = span["snap0"], span["snap1"]
        nested = [k for k in kids if k["name"] in JOB_PHASES]
        jobs = set(range(j0, j1))
        executions = []
        cursor = e0
        for k in nested:
            jobs -= set(range(k["snap0"][0], k["snap1"][0]))
            executions.append((cursor, k["snap0"][1]))
            cursor = k["snap1"][1]
            g1 -= k["snap1"][2] - k["snap0"][2]
        executions.append((cursor, e1))
        return sorted(jobs), executions, g1 - g0

    # -- instrumentation of the package's public calls ----------------------
    def wrap(self, fn, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if self._layer_depth.get(layer):
                return fn(*args, **kwargs)
            self._layer_depth[layer] = 1
            try:
                with self._span(layer):
                    return fn(*args, **kwargs)
            finally:
                self._layer_depth[layer] = 0
        return traced

    def instrument(self, entry_module) -> None:
        """Wrap the public functions and class methods of every layer
        module and the stream drain entry point, and rebind every name
        the query registry or the package holds to any of them."""
        import pypond_spark.streaming as streaming_pkg
        from pypond_spark.streaming import stream as stream_mod

        replaced: dict[int, object] = {}
        drain = self.wrap(stream_mod.run_available_now, "drain")
        replaced[id(stream_mod.run_available_now)] = drain
        replaced[id(drain)] = drain
        stream_mod.run_available_now = drain
        streaming_pkg.run_available_now = drain
        for layer, prefix in LAYER_PACKAGES.items():
            for mod in _modules(prefix):
                for name, obj in list(vars(mod).items()):
                    own = getattr(obj, "__module__", None) == mod.__name__
                    if name.startswith("_") or not own:
                        continue
                    if inspect.isfunction(obj):
                        if id(obj) not in replaced:
                            replaced[id(obj)] = self.wrap(obj, layer)
                        setattr(mod, name, replaced[id(obj)])
                    elif inspect.isclass(obj):
                        self._wrap_methods(obj, layer)
        # rebind names other modules imported before the wrapping
        # (``from .x import f``), so their calls are recorded too
        holders = [entry_module, *(
            m for name, m in list(sys.modules.items())
            if m is not None and name.startswith("pypond_spark"))]
        for mod in holders:
            for name, obj in list(vars(mod).items()):
                if id(obj) in replaced and obj is not replaced[id(obj)]:
                    setattr(mod, name, replaced[id(obj)])

    def _wrap_methods(self, cls, layer: str) -> None:
        for name, attr in list(vars(cls).items()):
            if name.startswith("_"):
                continue
            if inspect.isfunction(attr):
                setattr(cls, name, self.wrap(attr, layer))
            elif isinstance(attr, (staticmethod, classmethod)):
                setattr(cls, name,
                        type(attr)(self.wrap(attr.__func__, layer)))

    # -- output -------------------------------------------------------------
    def dump(self, path: str, meta: dict) -> None:
        import json
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"meta": meta, "spans": self.spans,
                       "op_counts": self.op_counts}, fh)


def _modules(prefix: str) -> list:
    """The module and, for a package, its submodules, imported so that a
    lazily imported operator is wrapped too."""
    mod = importlib.import_module(prefix)
    subs = pkgutil.iter_modules(mod.__path__, prefix + ".") \
        if hasattr(mod, "__path__") else []
    return [mod, *(importlib.import_module(info.name) for info in subs)]


def _progress_listener(tracer: Tracer):
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        """Folds each micro-batch's progress into the running op."""

        def onQueryStarted(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            d = p.durationMs
            ops = p.stateOperators
            tracer.count("stream.batches")
            tracer.count("stream.no_data_batches", int(p.numInputRows == 0))
            for key, name in (("addBatch", "add_batch_ms"),
                              ("queryPlanning", "query_planning_ms"),
                              ("latestOffset", "latest_offset_ms"),
                              ("walCommit", "wal_commit_ms"),
                              ("commitOffsets", "commit_offsets_ms")):
                tracer.count(f"stream.{name}", d.get(key, 0))
            tracer.count("stream.state_commit_ms",
                         sum(o.commitTimeMs for o in ops))
            tracer.count("stream.state_update_ms",
                         sum(o.allUpdatesTimeMs for o in ops))
            tracer.count("stream.state_partitions",
                         sum(o.numShufflePartitions for o in ops))
            if ops:
                # gauges: the last batch of the op holds the final state
                with tracer._lock:
                    counts = tracer.op_counts[tracer._op]
                    counts["stream.state_rows_total"] = sum(
                        o.numRowsTotal for o in ops)
                    counts["stream.state_memory_bytes"] = sum(
                        o.memoryUsedBytes for o in ops)

    return ProgressListener()


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    driver JVM and its Python workers), sampled from ``/proc``.

    A descendant counts from its second sample on.  Helpers the JVM
    spawns for a few milliseconds share its address space until they
    exec, so ``/proc`` shows them with the JVM's whole RSS; counting them
    would add a second JVM to a random sample."""

    def __init__(self, interval_s: float = 0.2):
        self._interval = interval_s
        self._root = os.getpid()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self.peak_bytes = 0
        self._seen: set[int] = set()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self._sample()

    def _sample(self) -> None:
        parent, rss = {}, {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat", "rb") as fh:
                    fields = fh.read().rsplit(b")", 1)[1].split()
            except OSError:
                continue  # the process ended while we listed it
            parent[int(entry)] = int(fields[1])
            rss[int(entry)] = int(fields[21]) * self._page
        tree, frontier = {self._root}, [self._root]
        children: dict[int, list[int]] = {}
        for pid, ppid in parent.items():
            children.setdefault(ppid, []).append(pid)
        while frontier:
            for kid in children.get(frontier.pop(), []):
                if kid not in tree:
                    tree.add(kid)
                    frontier.append(kid)
        counted = (tree & self._seen) | {self._root}
        self._seen = tree
        self.peak_bytes = max(self.peak_bytes,
                              sum(rss.get(pid, 0) for pid in counted))
