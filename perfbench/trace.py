"""Traced run: spans and per-layer metrics, recorded from outside the package.

Nothing under ``datawarehousefinal_spark/`` knows about tracing. ``Tracer``
patches the public functions of each layer module (every binding of them in
the package, so each registry module's own ``load_table`` import is covered
too), the pyspark cache API, and the py4j client, and restores all of it on
``uninstall``. Only the traced run creates a ``Tracer``.

Every span gets its own Spark job group, so each job is attributed to the
innermost span that submitted it. Streaming micro-batch jobs run under
their query's run id instead; they are attributed by submission time to the
innermost span open at that moment. Job and stage metrics are read once,
after the traced passes, from the local status REST API.
"""

from __future__ import annotations

import calendar
import functools
import importlib
import inspect
import json
import statistics
import sys
import threading
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from datetime import datetime
from urllib.parse import urlparse

from pyspark.sql.classic.dataframe import DataFrame as _ClassicDataFrame
from pyspark.sql.streaming import StreamingQueryListener

PKG = "datawarehousefinal_spark"
MARK = "__perfbench_traced__"
GROUP_PREFIX = "perfbench-"

OPERATOR_MODULES = (
    "mdx", "olap", "aggnav", "dedup", "incremental",
    "similarity", "curation", "surrogate", "scd",
)
# layer -> (module under the package, public functions to wrap; None = all)
LAYERS: dict[str, tuple[str, tuple[str, ...] | None]] = {
    "sources.load_table": ("sources.testdata", ("load_table",)),
    "sources.read": ("sources.readers", None),
    "sources.write": ("sources.writers", None),
    "ml": ("ml.pipelines", None),
    **{f"operators.{m}": (f"operators.{m}", None) for m in OPERATOR_MODULES},
}
MATERIALIZE = {
    "persist": "materialize.persist",
    "cache": "materialize.persist",
    "localCheckpoint": "materialize.checkpoint",
    "checkpoint": "materialize.checkpoint",
}
# Session conf of the traced run only: keep every job and stage of the run
# in the status store until they are read.
TRACE_CONF = {
    "spark.ui.enabled": "true",
    "spark.ui.retainedJobs": "1000000",
    "spark.ui.retainedStages": "1000000",
    "spark.sql.ui.retainedExecutions": "100000",
}
MB = 1024 * 1024

# (metric, unit) of every per-layer metric, in report order.
PER_LAYER_METRICS: list[tuple[str, str]] = [
    ("session.start_s", "s"),
    ("queries.construct_s", "s"),
    ("queries.py4j_calls", "count"),
    ("queries.construct_jobs", "count"),
    ("queries.construct_job_s", "s"),
    ("sources.load_table_calls", "count"),
    ("sources.load_table_s", "s"),
    ("sources.load_table_jobs", "count"),
    ("sources.infer_jobs_per_load", "ratio"),
    ("sources.write_calls", "count"),
    ("sources.write_s", "s"),
    ("sources.write_mb", "MB"),
    ("sources.read_calls", "count"),
    ("sources.read_s", "s"),
    *[
        (f"operators.{m}.{k}", u)
        for m in OPERATOR_MODULES
        for k, u in (("calls", "count"), ("s", "s"), ("jobs", "count"))
    ],
    ("ml.calls", "count"),
    ("ml.s", "s"),
    ("ml.jobs", "count"),
    ("ml.tasks_per_job", "ratio"),
    ("streaming.queries", "count"),
    ("streaming.batches", "count"),
    ("streaming.batch_p50_ms", "ms"),
    ("streaming.state_commit_ms", "ms"),
    ("streaming.rows_in", "count"),
    ("materialize.persist_calls", "count"),
    ("materialize.checkpoint_calls", "count"),
    ("materialize.checkpoint_s", "s"),
    ("materialize.cached_peak_mb", "MB"),
    ("plan.s", "s"),
    ("exec.s", "s"),
    ("exec.jobs", "count"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("exec.task_run_s", "s"),
    ("exec.task_cpu_s", "s"),
    ("exec.gc_s", "s"),
    ("exec.sched_wait_s", "s"),
    ("exec.input_mb", "MB"),
    ("exec.shuffle_read_mb", "MB"),
    ("exec.shuffle_write_mb", "MB"),
    ("exec.spill_mb", "MB"),
    ("exec.failed_tasks", "count"),
    ("harness.cleanup_s", "s"),
    ("harness.floor_s", "s"),
    ("harness.gc_s", "s"),
    ("trace.overhead_ratio", "ratio"),
]

# Per-job sums read from the stages each job ran.
_JOB_FIELDS = (
    "jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
    "sched_wait_s", "input_mb", "shuffle_read_mb", "shuffle_write_mb",
    "spill_mb", "failed_tasks", "output_mb",
)


def _rest_time(stamp: str | None) -> float | None:
    """Epoch seconds of a status-API timestamp such as
    ``2026-10-17T03:40:12.345GMT``."""
    if not stamp:
        return None
    dt = datetime.strptime(stamp[:-3], "%Y-%m-%dT%H:%M:%S.%f")
    return calendar.timegm(dt.timetuple()) + dt.microsecond / 1e6


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


class StatusApi:
    """The driver's local status REST API (``/api/v1``), read without any
    proxy: the UI listens on the loopback interface of this machine."""

    def __init__(self, sc):
        port = urlparse(sc.uiWebUrl).port
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self._opener = urllib.request.build_opener(urllib.request.ProxyHandler({}))

    def get(self, path: str):
        with self._opener.open(self.base + path, timeout=120) as resp:
            return json.load(resp)


class StreamStats(StreamingQueryListener):
    """Counts streaming queries, micro-batches, state commits and input rows."""

    def __init__(self):
        self._lock = threading.Lock()
        self.queries = 0
        self.batch_ms: list[float] = []
        self.commit_ms = 0.0
        self.rows_in = 0

    def onQueryStarted(self, event):
        with self._lock:
            self.queries += 1

    def onQueryProgress(self, event):
        p = event.progress
        commit = sum(op.commitTimeMs for op in p.stateOperators)
        with self._lock:
            self.batch_ms.append(float(p.batchDuration))
            self.commit_ms += commit
            self.rows_in += p.numInputRows

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.api = StatusApi(self.sc)
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._face_run: str | None = None
        self._main = threading.get_ident()
        self._internal = False
        self._patches: list[tuple] = []
        self.streams = StreamStats()
        self.cached_peak_mb = 0.0
        self._first_job: int | None = None

    # -- spans -----------------------------------------------------------
    def _set_group(self, sid: int | None) -> None:
        self._internal = True
        try:
            if sid is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(f"{GROUP_PREFIX}{sid}", self.spans[sid]["name"])
        finally:
            self._internal = False

    @contextmanager
    def span(self, name: str, layer: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "face_run": self._face_run,
            "start": time.time(),
            "end": None,
            "py4j": 0,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    @contextmanager
    def face(self, name: str, run_id: str):
        self._face_run = run_id
        try:
            with self.span(f"face:{name}", "face"):
                yield
        finally:
            self._face_run = None

    def sample_storage(self) -> None:
        """Track the peak of cached and checkpointed block storage."""
        rdds = self.api.get("/storage/rdd")
        used = sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in rdds)
        self.cached_peak_mb = max(self.cached_peak_mb, used / MB)

    # -- wrappers --------------------------------------------------------
    def _wrap(self, fn, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if threading.get_ident() != tracer._main:
                return fn(*args, **kwargs)
            with tracer.span(f"{layer}:{fn.__name__}", layer):
                return fn(*args, **kwargs)

        setattr(traced, MARK, True)
        return traced

    def _patch(self, obj, attr: str, new) -> None:
        had = attr in vars(obj)
        self._patches.append((obj, attr, vars(obj).get(attr), had))
        setattr(obj, attr, new)

    def install(self) -> None:
        targets = []
        for layer, (modname, names) in LAYERS.items():
            mod = importlib.import_module(f"{PKG}.{modname}")
            for attr, fn in vars(mod).items():
                if (
                    inspect.isfunction(fn)
                    and not attr.startswith("_")
                    and fn.__module__ == mod.__name__
                    and (names is None or attr in names)
                ):
                    targets.append((fn, self._wrap(fn, layer)))
        modules = [
            m for n, m in list(sys.modules.items())
            if m is not None and (n == PKG or n.startswith(PKG + "."))
        ]
        wrapped = {id(fn): w for fn, w in targets}
        for mod in modules:
            for attr, val in list(vars(mod).items()):
                if id(val) in wrapped and inspect.isfunction(val):
                    self._patch(mod, attr, wrapped[id(val)])
        for meth, layer in MATERIALIZE.items():
            self._patch(
                _ClassicDataFrame, meth, self._wrap(getattr(_ClassicDataFrame, meth), layer)
            )

        client = self.sc._gateway._gateway_client
        send = client.send_command
        tracer = self

        def counted_send(*args, **kwargs):
            if (
                tracer._stack
                and not tracer._internal
                and threading.get_ident() == tracer._main
            ):
                tracer.spans[tracer._stack[-1]]["py4j"] += 1
            return send(*args, **kwargs)

        self._patch(client, "send_command", counted_send)
        self.spark.streams.addListener(self.streams)
        if self._first_job is None:
            jobs = self.api.get("/jobs")
            self._first_job = max((j["jobId"] for j in jobs), default=-1) + 1

    def _drain_events(self) -> None:
        """Wait until every listener has seen every event posted so far."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def uninstall(self) -> None:
        self._drain_events()
        self.spark.streams.removeListener(self.streams)
        for obj, attr, old, had in reversed(self._patches):
            if had:
                setattr(obj, attr, old)
            else:
                delattr(obj, attr)
        self._patches.clear()

    # -- report ----------------------------------------------------------
    def _job_metrics(self) -> tuple[dict[int, dict], dict[int, int | None]]:
        """Per-job metric sums, and the span each job is attributed to."""
        self._drain_events()
        jobs = [j for j in self.api.get("/jobs") if j["jobId"] >= self._first_job]
        ids = {j["jobId"] for j in jobs}
        if ids:
            missing = set(range(self._first_job, max(ids) + 1)) - ids
            if missing:
                raise RuntimeError(
                    f"{len(missing)} traced jobs were evicted from the status "
                    "store before they were read; raise spark.ui.retainedJobs"
                )
        stages: dict[int, list[dict]] = defaultdict(list)
        for s in self.api.get("/stages"):
            stages[s["stageId"]].append(s)

        faces = sorted(
            (s["start"], s["end"], s["face_run"]) for s in self.spans if s["layer"] == "face"
        )
        by_face: dict[str, list[dict]] = defaultdict(list)
        for s in self.spans:
            by_face[s["face_run"]].append(s)

        def span_at(t: float) -> int | None:
            inner = None
            for start, end, run in faces:
                if start <= t <= end:
                    for s in by_face[run]:
                        if s["start"] <= t <= s["end"] and (
                            inner is None or s["start"] >= self.spans[inner]["start"]
                        ):
                            inner = s["id"]
            return inner

        seen_stages: set[int] = set()
        metrics: dict[int, dict] = {}
        owner: dict[int, int | None] = {}
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            group = j.get("jobGroup") or ""
            sub = _rest_time(j.get("submissionTime"))
            if group.startswith(GROUP_PREFIX):
                owner[j["jobId"]] = int(group[len(GROUP_PREFIX):])
            else:
                owner[j["jobId"]] = span_at(sub) if sub is not None else None
            m = dict.fromkeys(_JOB_FIELDS, 0.0)
            m["jobs"] = 1
            end = _rest_time(j.get("completionTime")) or sub
            m["interval"] = (sub or 0.0, end or 0.0)
            for sid in j["stageIds"]:
                if sid not in stages:
                    raise RuntimeError(
                        f"stage {sid} of job {j['jobId']} was evicted from the "
                        "status store before it was read; raise spark.ui.retainedStages"
                    )
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                for s in stages[sid]:
                    if s["status"] in ("SKIPPED", "PENDING"):
                        continue
                    m["stages"] += 1
                    m["tasks"] += s["numTasks"]
                    m["failed_tasks"] += s["numFailedTasks"]
                    m["task_run_s"] += s["executorRunTime"] / 1e3
                    m["task_cpu_s"] += s["executorCpuTime"] / 1e9
                    m["gc_s"] += s.get("jvmGcTime", 0) / 1e3
                    m["input_mb"] += s["inputBytes"] / MB
                    m["shuffle_read_mb"] += s["shuffleReadBytes"] / MB
                    m["shuffle_write_mb"] += s["shuffleWriteBytes"] / MB
                    m["spill_mb"] += (s["memoryBytesSpilled"] + s["diskBytesSpilled"]) / MB
                    m["output_mb"] += s["outputBytes"] / MB
                    launched = _rest_time(s.get("firstTaskLaunchedTime"))
                    submitted = _rest_time(s.get("submissionTime"))
                    if launched and submitted:
                        m["sched_wait_s"] += max(0.0, launched - submitted)
            metrics[j["jobId"]] = m
        return metrics, owner

    def report(self, passes: int) -> dict[str, float]:
        """Per-layer metrics, each a mean per traced pass unless a ratio,
        a peak or a percentile."""
        job_metrics, owner = self._job_metrics()
        n = len(self.spans)
        incl = [dict.fromkeys(_JOB_FIELDS, 0.0) for _ in range(n)]
        intervals: list[list[tuple[float, float]]] = [[] for _ in range(n)]
        py4j = [s["py4j"] for s in self.spans]
        for job, m in job_metrics.items():
            sid = owner[job]
            if sid is None:
                continue
            for k in _JOB_FIELDS:
                incl[sid][k] += m[k]
            intervals[sid].append(m["interval"])
        for s in reversed(self.spans):  # children have larger ids than parents
            p = s["parent"]
            if p is not None:
                for k in _JOB_FIELDS:
                    incl[p][k] += incl[s["id"]][k]
                intervals[p].extend(intervals[s["id"]])
                py4j[p] += py4j[s["id"]]
            s["jobs"] = int(incl[s["id"]]["jobs"])

        layer = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            a, outer = s["parent"], True
            while a is not None:
                if self.spans[a]["layer"] == s["layer"]:
                    outer = False
                    break
                a = self.spans[a]["parent"]
            if not outer:
                continue
            L = layer[s["layer"]]
            L["calls"] += 1
            L["s"] += s["end"] - s["start"]
            L["py4j"] += py4j[s["id"]]
            L["job_s"] += _union_s(intervals[s["id"]])
            for k in _JOB_FIELDS:
                L[k] += incl[s["id"]][k]

        per = 1.0 / max(passes, 1)
        out: dict[str, float] = {}
        q = layer["construct"]
        out["queries.construct_s"] = q["s"] * per
        out["queries.py4j_calls"] = q["py4j"] * per
        out["queries.construct_jobs"] = q["jobs"] * per
        out["queries.construct_job_s"] = q["job_s"] * per
        lt = layer["sources.load_table"]
        out["sources.load_table_calls"] = lt["calls"] * per
        out["sources.load_table_s"] = lt["s"] * per
        out["sources.load_table_jobs"] = lt["jobs"] * per
        out["sources.infer_jobs_per_load"] = lt["jobs"] / lt["calls"] if lt["calls"] else 0.0
        w, r = layer["sources.write"], layer["sources.read"]
        out["sources.write_calls"] = w["calls"] * per
        out["sources.write_s"] = w["s"] * per
        out["sources.write_mb"] = w["output_mb"] * per
        out["sources.read_calls"] = r["calls"] * per
        out["sources.read_s"] = r["s"] * per
        for m in OPERATOR_MODULES:
            o = layer[f"operators.{m}"]
            out[f"operators.{m}.calls"] = o["calls"] * per
            out[f"operators.{m}.s"] = o["s"] * per
            out[f"operators.{m}.jobs"] = o["jobs"] * per
        ml = layer["ml"]
        out["ml.calls"] = ml["calls"] * per
        out["ml.s"] = ml["s"] * per
        out["ml.jobs"] = ml["jobs"] * per
        out["ml.tasks_per_job"] = ml["tasks"] / ml["jobs"] if ml["jobs"] else 0.0
        st = self.streams
        out["streaming.queries"] = st.queries * per
        out["streaming.batches"] = len(st.batch_ms) * per
        out["streaming.batch_p50_ms"] = statistics.median(st.batch_ms) if st.batch_ms else 0.0
        out["streaming.state_commit_ms"] = st.commit_ms * per
        out["streaming.rows_in"] = st.rows_in * per
        out["materialize.persist_calls"] = layer["materialize.persist"]["calls"] * per
        ck = layer["materialize.checkpoint"]
        out["materialize.checkpoint_calls"] = ck["calls"] * per
        out["materialize.checkpoint_s"] = ck["s"] * per
        out["materialize.cached_peak_mb"] = self.cached_peak_mb
        out["plan.s"] = layer["plan"]["s"] * per
        ex, face = layer["exec"], layer["face"]
        out["exec.s"] = ex["s"] * per
        for k in _JOB_FIELDS[:-1]:
            out[f"exec.{k}"] = face[k] * per
        out["harness.cleanup_s"] = layer["cleanup"]["s"] * per
        out["harness.floor_s"] = (
            face["s"] - layer["construct"]["s"] - layer["plan"]["s"] - ex["s"]
        ) * per
        return out

    def write_spans(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    k: s.get(k) for k in
                    ("id", "name", "parent", "face_run", "start", "end", "py4j", "jobs")
                }) + "\n")


def installed_wrappers() -> list[str]:
    """Names of traced wrappers currently installed anywhere the tracer
    patches; empty in an untraced run."""
    found = [
        f"{n}.{a}"
        for n, m in list(sys.modules.items())
        if m is not None and (n == PKG or n.startswith(PKG + "."))
        for a, v in list(vars(m).items())
        if getattr(v, MARK, False)
    ]
    found += [
        f"DataFrame.{meth}" for meth in MATERIALIZE
        if getattr(getattr(_ClassicDataFrame, meth), MARK, False)
    ]
    return found
