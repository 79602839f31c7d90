"""Layer tracing from outside the program.

``Tracer.install`` wraps the public functions of the program's layer
modules (``adam_spark.sources.*`` and ``adam_spark.context``,
``adam_spark.operators.*``, ``adam_spark.llm.*``) and counts calls
through the py4j gateway. Each wrapper records one span per outermost
call of its layer: nested calls inside the same layer are folded into
the outer span. A span names the span that caused it (``parent``), and
the time and eager jobs of a layer are its self time and self jobs:
what its nested calls into other layers took is theirs, so no time is
counted twice. After each action, ``Tracer.end_query`` reads Spark's
status store for the jobs of the query's job group. ``Tracer.uninstall``
puts the original functions back.

Spans are kept in memory and written out by the caller at exit.
"""

from __future__ import annotations

import contextlib
import importlib
import inspect
import operator
import pkgutil
import statistics
import sys
import time
from collections import defaultdict

#: layer name -> module prefixes whose public functions belong to it
LAYER_MODULES = {
    "sources": ("adam_spark.sources", "adam_spark.context"),
    "operators": ("adam_spark.operators",),
    "llm": ("adam_spark.llm",),
}
#: modules whose globals hold the program's calls into the layers: the
#: query registry and every module of the package (a layer function a
#: module imported by name is called through that module's globals)
CALLERS = ("__spark_entry__", "adam_spark")


def _layer_key(layer: str, name: str) -> str:
    if layer != "sources":
        return layer
    return "sources.write" if name.startswith(("save", "write")) else "sources.load"


class _Traced:
    """Callable stand-in for a layer function. Pickles as the original
    function, so a UDF closure that captured it ships the plain code."""

    def __init__(self, tracer: "Tracer", key: str, fn):
        self.tracer, self.key, self.fn = tracer, key, fn
        self.__name__ = fn.__name__
        self.__doc__ = fn.__doc__
        self.__wrapped__ = fn

    def __call__(self, *args, **kwargs):
        return self.tracer.call(self.key, self.fn, args, kwargs)

    def __reduce__(self):
        return operator.itemgetter(0), ((self.fn,),)


class Tracer:
    def __init__(self, spark, cores: int):
        self.sc = spark.sparkContext
        self.cores = cores
        self.active = False
        self.spans: list[dict] = []
        self.qid: str | None = None
        self._open: set[str] = set()
        #: open layer spans, innermost last, under the open query span
        self._stack: list[dict] = []
        self._own = 0
        self.py4j_calls = 0
        self._store = self.sc._jsc.sc().statusStore()
        self._tracker = self.sc.statusTracker()
        self._quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0
        self._bus = self.sc._jsc.sc().listenerBus()
        self._patches = self._find_patches()

    # -- installation -------------------------------------------------
    def _find_patches(self) -> dict[tuple[str, str], tuple]:
        """Every wrapper to install: (module name, attribute) -> (target,
        original, wrapper), for each public layer function where
        it is defined and wherever the package imported it by name, and
        for the gateway client's ``send_command``."""
        import adam_spark

        for info in pkgutil.walk_packages(adam_spark.__path__, "adam_spark."):
            if not info.name.endswith(".__main__"):
                importlib.import_module(info.name)
        wrapped: dict[int, _Traced] = {}
        for layer, prefixes in LAYER_MODULES.items():
            for mod_name, mod in list(sys.modules.items()):
                if mod is None or not mod_name.startswith(prefixes):
                    continue
                for name, obj in list(vars(mod).items()):
                    if (name.startswith("_") or not inspect.isfunction(obj)
                            or obj.__module__ != mod_name):
                        continue
                    wrapped.setdefault(id(obj), _Traced(self, _layer_key(layer, name), obj))
        patches = {}
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(CALLERS):
                continue
            for name, obj in list(vars(mod).items()):
                if id(obj) in wrapped and inspect.isfunction(obj):
                    patches[mod_name, name] = (mod, obj, wrapped[id(obj)])
        client = self.sc._gateway._gateway_client
        send = client.send_command

        def counting_send(*args, **kwargs):
            if self.active and not self._own:
                self.py4j_calls += 1
            return send(*args, **kwargs)

        patches["py4j", "send_command"] = (client, send, counting_send)
        return patches

    def install(self) -> None:
        """Put every wrapper in place and start recording."""
        for (_, attr), (target, _, wrapper) in self._patches.items():
            setattr(target, attr, wrapper)
        self.py4j_calls = 0
        self.active = True

    def uninstall(self) -> None:
        """Stop recording and put every original back, so passes between
        traced ones run the program's own code."""
        self.active = False
        for (_, attr), (target, original, _) in self._patches.items():
            setattr(target, attr, original)

    # -- spans --------------------------------------------------------
    @contextlib.contextmanager
    def _jvm(self):
        """Context for the tracer's own gateway calls, which are not
        counted as the program's."""
        self._own += 1
        try:
            yield
        finally:
            self._own -= 1

    def _job_ids(self) -> list[int]:
        """Jobs of the open query's group. The status store is fed by
        Spark's asynchronous listener bus, which may still hold the last
        job's events when an action returns: drain it first."""
        with self._jvm():
            self._bus.waitUntilEmpty()
            return list(self._tracker.getJobIdsForGroup(self.qid))

    def _span(self, layer: str, name: str, start: float, **fields) -> dict:
        parent = self._stack[-1] if self._stack else self._query_span
        span = {"id": len(self.spans), "parent": parent["id"], "qid": self.qid,
                "layer": layer, "name": name, "start": start, "end": None, **fields}
        self.spans.append(span)
        return span

    def call(self, key: str, fn, args, kwargs):
        if not self.active or self.qid is None or key in self._open:
            return fn(*args, **kwargs)
        self._open.add(key)
        jobs0 = len(self._job_ids())
        span = self._span(key, fn.__name__, time.perf_counter(), child_s=0.0, child_jobs=0)
        self._stack.append(span)
        try:
            return fn(*args, **kwargs)
        finally:
            span["end"] = time.perf_counter()
            span["eager_jobs"] = len(self._job_ids()) - jobs0
            self._stack.pop()
            self._open.discard(key)
            if self._stack:
                self._stack[-1]["child_s"] += span["end"] - span["start"]
                self._stack[-1]["child_jobs"] += span["eager_jobs"]

    def begin_query(self, qid: str) -> None:
        self.qid = qid
        with self._jvm():
            self.sc.setJobGroup(qid, qid)
        self._query_span = {"id": len(self.spans), "parent": None, "qid": qid,
                            "layer": "query", "name": qid,
                            "start": time.perf_counter(), "end": None}
        self.spans.append(self._query_span)

    def plan(self, df) -> None:
        """Force Catalyst planning of ``df`` before its action runs."""
        span = self._span("spark.plan", "executedPlan", time.perf_counter())
        df._jdf.queryExecution().executedPlan()
        span["end"] = time.perf_counter()

    def action_started(self) -> None:
        """Mark the start of the action; jobs already in the group are the
        eager jobs its build launched."""
        self._pre_action_jobs = set(self._job_ids())
        self._action_t0 = time.perf_counter()

    def end_query(self) -> None:
        """Close the query: record the action span and its Spark metrics."""
        t1 = time.perf_counter()
        with self._jvm():
            stats = self._spark_stats(self._pre_action_jobs, t1 - self._action_t0)
        self._span("spark.action", "collect", self._action_t0, **stats)["end"] = t1
        self._query_span["end"] = t1
        self.qid = None

    def _spark_stats(self, eager: set[int], wall: float) -> dict:
        job_ids = self._job_ids()
        stage_ids: set[int] = set()
        intervals = []
        for jid in job_ids:
            info = self._tracker.getJobInfo(jid)
            if info is None:
                continue
            stage_ids.update(info.stageIds)
            if jid in eager:
                continue
            job = self._store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        out = defaultdict(float)
        out["jobs"] = len(job_ids)
        skews = []
        for sid in stage_ids:
            st = self._store.lastStageAttempt(sid)
            if str(st.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["exec_run_s"] += st.executorRunTime() / 1e3
            out["exec_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
            out["shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
            out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
            if st.numTasks() > 1:
                summary = self._store.taskSummary(sid, st.attemptId(), self._quantiles)
                if summary.isDefined():
                    run_times = summary.get().executorRunTime()
                    med, mx = run_times.apply(0), run_times.apply(1)
                    skews.append(mx / med if med > 0 else 1.0)
        out["task_skew"] = max(skews, default=1.0)
        out["job_gap_s"] = max(0.0, wall - _union_length(intervals))
        return dict(out)

    # -- per-pass summary ---------------------------------------------
    def pass_metrics(self, spans: list[dict], py4j_calls: int) -> dict[str, float]:
        m: dict[str, float] = defaultdict(float)
        action_wall = 0.0
        for s in spans:
            layer, dur = s["layer"], (s["end"] or s["start"]) - s["start"]
            self_s = dur - s.get("child_s", 0.0)
            if layer == "sources.load":
                m["sources.load_calls"] += 1
                m["sources.load_s"] += self_s
            elif layer == "sources.write":
                m["sources.write_s"] += self_s
            elif layer in ("operators", "llm"):
                m[f"{layer}.calls"] += 1
                m[f"{layer}.build_s"] += self_s
                m[f"{layer}.eager_jobs"] += s["eager_jobs"] - s["child_jobs"]
            elif layer == "spark.plan":
                m["spark.plan_s"] += dur
            elif layer == "spark.action":
                action_wall += dur
                for k in ("jobs", "stages", "tasks", "job_gap_s", "exec_run_s", "exec_cpu_s",
                          "gc_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
                    m[f"spark.{k}"] += s.get(k, 0.0)
                m["spark.task_skew"] = max(m["spark.task_skew"], s.get("task_skew", 1.0))
        m["py4j.calls"] = py4j_calls
        m["spark.busy_frac"] = m["spark.exec_run_s"] / (action_wall * self.cores) if action_wall else 0.0
        return dict(m)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def median_metrics(per_pass: list[dict[str, float]]) -> dict[str, float]:
    keys = {k for m in per_pass for k in m}
    return {k: statistics.median(m.get(k, 0.0) for m in per_pass) for k in sorted(keys)}
