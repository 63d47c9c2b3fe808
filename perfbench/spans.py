"""Outside-in tracing for the benchmark's traced run.

Nothing here changes the engine. The tracer wraps the public functions
of the engine's driver-side modules in spans, rebinding every import
site (module attributes and ``from ... import`` copies alike), tags the
Spark jobs each span launches, and afterwards reads Spark's own
accounting (REST status store) to attribute jobs, stages and Python
worker SQL metrics to layers.

A span is ``[id, parent, name, start, end, thread, bookkeeping_s,
attrs]``. Spans stay in memory until ``write`` dumps them at the end.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import itertools
import json
import pkgutil
import re
import sys
import threading
import time
import urllib.request
from datetime import datetime

PACKAGE = "pyspark_mrdf_spark"
# driver-side layers whose public functions get spans; ``functions``
# (executor kernels) and ``queries`` (timed by the workload) are read
# from Spark's metrics and the workload's own clock instead
TRACED_PACKAGES = ("sources", "algorithms", "operators", "streaming")
TRACED_MODULES = ("cache", "io")
TAG_PREFIX = "perfbench-span-"

# Python-eval SQL metric (as Spark names it) -> functions.* metric
PYTHON_SQL_METRICS = {
    "time to run Python workers": "functions.python_run_s",
    "time to start Python workers": "functions.python_start_s",
    "data sent to Python workers": "functions.python_sent_mb",
    "data returned from Python workers": "functions.python_returned_mb",
}
_UNIT = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1 / 2**20, "KiB": 1 / 2**10, "MiB": 1.0, "GiB": 2**10, "TiB": 2**20,
}


def layer_of(name: str) -> str:
    """``operators.dedup.near_dedup_against`` -> ``operators.dedup``;
    ``streaming.ingest.x`` -> ``streaming``; ``queries.text.q108`` ->
    ``queries``."""
    parts = name.split(".")
    if parts[0] in ("operators", "algorithms"):
        return ".".join(parts[:2])
    return parts[0]


def _instrumented_modules():
    names = [f"{PACKAGE}.{m}" for m in TRACED_MODULES]
    for sub in TRACED_PACKAGES:
        pkg = importlib.import_module(f"{PACKAGE}.{sub}")
        names += [f"{PACKAGE}.{sub}.{m.name}" for m in pkgutil.iter_modules(pkg.__path__)]
    return [importlib.import_module(n) for n in names]


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[list] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str) -> list:
        b0 = time.perf_counter()
        st = self._stack()
        sid = next(self._ids)
        span = [sid, st[-1][0] if st else None, name, 0.0, 0.0,
                threading.get_ident(), 0.0, {}]
        st.append(span)
        self.spans.append(span)
        self.sc.addJobTag(f"{TAG_PREFIX}{sid}")
        span[3] = time.perf_counter()
        span[6] += span[3] - b0
        return span

    def close(self, span: list) -> None:
        span[4] = time.perf_counter()
        self.sc.removeJobTag(f"{TAG_PREFIX}{span[0]}")
        self._stack().pop()
        span[6] += time.perf_counter() - span[4]

    @contextlib.contextmanager
    def span(self, name: str):
        s = self.open(name)
        try:
            yield s
        finally:
            self.close(s)

    # -- instrumentation ----------------------------------------------
    def _wrap(self, fn, name: str):
        tracer = self
        is_memo = name == "cache.memoized_df"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = tracer.open(name)
            try:
                if is_memo:  # a hit is a call whose builder never runs
                    args, kwargs = _flag_builder(span, args, kwargs)
                return fn(*args, **kwargs)
            finally:
                tracer.close(span)

        return traced

    def install(self) -> int:
        """Wrap every public function of the traced modules and rebind
        every module global that refers to one. Returns the count of
        wrapped functions."""
        wrapped: dict[int, object] = {}
        for mod in _instrumented_modules():
            short = mod.__name__[len(PACKAGE) + 1:]
            for attr, obj in list(vars(mod).items()):
                if (
                    attr.startswith("_")
                    or not inspect.isfunction(obj)
                    or obj.__module__ != mod.__name__
                    or inspect.isgeneratorfunction(obj)
                ):
                    continue
                wrapped[id(obj)] = (obj, self._wrap(obj, f"{short}.{attr}"))
        for mod in [m for n, m in list(sys.modules.items()) if n.startswith(PACKAGE)]:
            for attr, obj in list(vars(mod).items()):
                hit = wrapped.get(id(obj))
                if hit is not None and hit[0] is obj:
                    self._patches.append((mod, attr, obj))
                    setattr(mod, attr, hit[1])
        return len(wrapped)

    def uninstall(self) -> None:
        for mod, attr, obj in reversed(self._patches):
            setattr(mod, attr, obj)
        self._patches.clear()

    # -- read-out ------------------------------------------------------
    def span_metrics(self) -> dict[str, float]:
        dur: dict[int, float] = {}
        child_s: dict[int, float] = {}
        for s in self.spans:
            dur[s[0]] = s[4] - s[3]
            if s[1] is not None:
                child_s[s[1]] = child_s.get(s[1], 0.0) + s[4] - s[3]
        out: dict[str, float] = {}
        memo_calls = memo_hits = 0
        for s in self.spans:
            layer = layer_of(s[2])
            key = f"{layer}.self_s"
            out[key] = out.get(key, 0.0) + dur[s[0]] - child_s.get(s[0], 0.0)
            if s[2] == "cache.memoized_df":
                memo_calls += 1
                memo_hits += int(s[7].get("hit", False))
            elif s[2] == "io.load_table":
                out["io.load_table_calls"] = out.get("io.load_table_calls", 0) + 1
            elif s[2] == "sources.fvecs.read_fvecs":
                out["sources.read_fvecs_s"] = out.get("sources.read_fvecs_s", 0.0) + dur[s[0]]
        out["cache.calls"] = memo_calls
        out["cache.hits"] = memo_hits
        out["cache.hit_ratio"] = memo_hits / memo_calls if memo_calls else 0.0
        out["trace.spans"] = len(self.spans)
        out["trace.bookkeeping_s"] = sum(s[6] for s in self.spans)
        return out

    def job_layers(self, jobs: list[dict]) -> list[str | None]:
        """Layer of each job's innermost span; None for untagged jobs."""
        names = {s[0]: s[2] for s in self.spans}
        out = []
        for job in jobs:
            ids = [int(t[len(TAG_PREFIX):]) for t in job.get("jobTags", ())
                   if t.startswith(TAG_PREFIX)]
            # tags accumulate down a thread's span stack: the newest is
            # the innermost span active when the job was submitted
            out.append(layer_of(names[max(ids)]) if ids else None)
        return out

    def write(self, path: str) -> None:
        keys = ("id", "parent", "name", "start", "end", "thread", "bookkeeping_s", "attrs")
        with open(path, "w") as f:
            json.dump([dict(zip(keys, s)) for s in self.spans], f)


def _flag_builder(span, args, kwargs):
    span[7]["hit"] = True

    def flagging(builder):
        def build():
            span[7]["hit"] = False
            return builder()
        return build

    if len(args) >= 3:
        args = args[:2] + (flagging(args[2]),) + args[3:]
    elif "builder" in kwargs:
        kwargs = dict(kwargs, builder=flagging(kwargs["builder"]))
    return args, kwargs


class SparkAccounting:
    """Spark's own records for the jobs of one timed window, read from
    the REST status store once the listener bus has caught up."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.sc = sc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def next_job_id(self) -> int:
        """Count of jobs the scheduler has ever submitted (the id the
        next job will get): the reference a lossless read-out must
        match."""
        n = self.sc._jsc.sc().dagScheduler().nextJobId()
        return n if isinstance(n, int) else int(n.get())

    def settle(self, until_job: int, timeout: float = 30.0) -> list[dict]:
        """Poll until every job below ``until_job`` is recorded and no
        job or SQL execution is still running; return the job list."""
        deadline = time.monotonic() + timeout
        while True:
            jobs = self._get("/jobs")
            done = {j["jobId"] for j in jobs if j["status"] != "RUNNING"}
            sql_running = any(e["status"] == "RUNNING" for e in self._get("/sql?details=false"))
            top = max(done, default=-1)
            if (top >= until_job - 1 and not sql_running) or time.monotonic() > deadline:
                return jobs
            time.sleep(0.2)

    def window(self, first_job: int, until_job: int, t0: float, t1: float,
               tracer: Tracer | None) -> dict[str, float]:
        jobs = [j for j in self.settle(until_job) if first_job <= j["jobId"] < until_job]
        job_ids = {j["jobId"] for j in jobs}
        out: dict[str, float] = {
            "spark.jobs": len(jobs),
            "trace.jobs_lost": (until_job - first_job) - len(jobs),
        }
        # driver-only time: wall of the window not covered by any job
        spans = sorted(
            (max(_epoch(j["submissionTime"]), t0), min(_epoch(j.get("completionTime")) or t1, t1))
            for j in jobs
        )
        busy, cur_s, cur_e = 0.0, None, None
        for s, e in spans:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        out["spark.no_job_s"] = max(0.0, (t1 - t0) - busy)

        unattributed = 0
        for layer in tracer.job_layers(jobs) if tracer else [None] * len(jobs):
            if layer is None:
                unattributed += 1
            else:
                out[f"{layer}.jobs"] = out.get(f"{layer}.jobs", 0) + 1
        out["spark.jobs_unattributed"] = unattributed

        stage_ids = {s for j in jobs for s in j["stageIds"]}
        seen = set()
        totals = dict.fromkeys(
            ("stages", "tasks", "run", "cpu", "gc", "sw", "sr", "spill", "in", "out"), 0.0
        )
        for st in self._get("/stages"):
            key = (st["stageId"], st["attemptId"])
            if st["stageId"] not in stage_ids or key in seen or st["status"] in ("SKIPPED", "PENDING"):
                continue
            seen.add(key)
            totals["stages"] += 1
            totals["tasks"] += st["numTasks"]
            totals["run"] += st["executorRunTime"] / 1e3
            totals["cpu"] += st["executorCpuTime"] / 1e9
            totals["gc"] += st["jvmGcTime"] / 1e3
            totals["sw"] += st["shuffleWriteBytes"] / 2**20
            totals["sr"] += st["shuffleReadBytes"] / 2**20
            totals["spill"] += st["diskBytesSpilled"] / 2**20
            totals["in"] += st["inputBytes"] / 2**20
            totals["out"] += st["outputBytes"] / 2**20
        names = {
            "stages": "spark.stages", "tasks": "spark.tasks",
            "run": "spark.executor_run_s", "cpu": "spark.executor_cpu_s",
            "gc": "spark.jvm_gc_s", "sw": "spark.shuffle_write_mb",
            "sr": "spark.shuffle_read_mb", "spill": "spark.spill_mb",
            "in": "spark.input_mb", "out": "spark.output_mb",
        }
        out.update({names[k]: v for k, v in totals.items()})

        for name in PYTHON_SQL_METRICS.values():
            out[name] = 0.0
        for ex in self._get("/sql?details=true&planDescription=false&offset=0&length=1000000"):
            ex_jobs = set(ex["successJobIds"]) | set(ex["failedJobIds"]) | set(ex["runningJobIds"])
            if not ex_jobs & job_ids:
                continue
            for node in ex["nodes"]:
                for m in node["metrics"]:
                    name = PYTHON_SQL_METRICS.get(m["name"])
                    if name is not None:
                        out[name] += parse_sql_metric(m["value"])
        return out


_NUM_UNIT = re.compile(r"^\s*([0-9][0-9,]*\.?[0-9]*)\s*([A-Za-z]+)")


def parse_sql_metric(value: str) -> float:
    """Total of a formatted SQL metric, in seconds (times) or MiB
    (sizes): ``"total (min, med, max ...)\\n10.1 s (...)"`` or ``"0 ms"``."""
    m = _NUM_UNIT.match(value.strip().splitlines()[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2), 0.0)


def _epoch(ts: str | None) -> float | None:
    """REST timestamps look like ``2026-10-16T18:13:19.944GMT``."""
    if not ts:
        return None
    return datetime.strptime(ts.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()
