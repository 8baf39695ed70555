"""Spans and Spark counters for the traced benchmark run.

A ``Tracer`` records one span per call across a layer boundary (name,
start, end, parent id) and keeps them in memory until ``dump``. Layer
boundaries are the program's public functions, wrapped by ``install``: it
replaces the module attribute in every loaded ``simtradedata_spark``
module that holds the original function, so both ``from m import f`` at
import time and lazy imports inside ``queries.py`` resolve to the wrapper.

Spark work is attributed without trusting the bounded status store's
history. Every span tags the driver thread with its own job group. At each
span boundary the tracer asks for the newest job id of the group that was
active since the previous boundary; because jobs and stages are numbered in
submission order and the benchmark runs one client thread, every job id and
stage id allocated since the previous boundary belongs to that span. Stage
metrics are read immediately, while the stages are still retained; a stage
id in the range that the store has already evicted is counted in
``stages_unseen`` rather than dropped.
"""

from __future__ import annotations

import functools
import json
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

MB = 1024 * 1024
SPARK_FIELDS = (
    "jobs", "stages", "stages_unseen", "job_s", "task_s", "shuffle_write",
    "shuffle_read", "spill", "input", "failed_tasks",
)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._root = self._new_span("root", None)
        self._job_wm = -1
        self._stage_wm = -1
        self._sc = None

    # -- spans -------------------------------------------------------------

    def _new_span(self, name: str, parent: dict | None, **attrs) -> dict:
        sp = {
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            **{f: 0 for f in SPARK_FIELDS},
            **attrs,
        }
        self.spans.append(sp)
        return sp

    def attach(self, spark) -> None:
        """Start counting Spark work on this session's context."""
        self._sc = spark.sparkContext
        self._tracker = self._sc.statusTracker()
        self._store = self._sc._jsc.sc().statusStore()
        self._set_group(self._current())

    def _current(self) -> dict:
        return self._stack[-1] if self._stack else self._root

    def _set_group(self, sp: dict) -> None:
        if self._sc is not None:
            self._sc.setJobGroup(f"perfbench-{sp['id']}", sp["name"])

    @contextmanager
    def span(self, name: str, **attrs):
        self._flush()
        sp = self._new_span(name, self._current(), **attrs)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            self._flush()
            sp["end"] = time.perf_counter()
            self._stack.pop()
            parent = self._current()
            for f in SPARK_FIELDS:
                parent[f] += sp[f]
            self._set_group(parent)

    # -- Spark counters ----------------------------------------------------

    def _flush(self) -> None:
        """Credit every job and stage allocated since the last boundary to
        the innermost open span."""
        if self._sc is None:
            return
        sp = self._current()
        ids = self._tracker.getJobIdsForGroup(f"perfbench-{sp['id']}")
        newest = max(ids, default=-1)
        if newest <= self._job_wm:
            return
        jobs = range(self._job_wm + 1, newest + 1)
        self._job_wm = newest
        sp["jobs"] += len(jobs)
        top_stage = self._stage_wm
        for jid in jobs:
            info = self._tracker.getJobInfo(jid)
            if info is not None and info.stageIds:
                top_stage = max(top_stage, max(info.stageIds))
            sp["job_s"] += self._job_seconds(jid)
        for sid in range(self._stage_wm + 1, top_stage + 1):
            self._read_stage(sp, sid)
        self._stage_wm = max(self._stage_wm, top_stage)

    def _job_seconds(self, jid: int) -> float:
        try:
            job = self._store.job(jid)
        except Exception:  # evicted from the status store
            return 0.0
        sub, done = job.submissionTime(), job.completionTime()
        if sub.isEmpty() or done.isEmpty():
            return 0.0
        return (done.get().getTime() - sub.get().getTime()) / 1000.0

    def _read_stage(self, sp: dict, sid: int) -> None:
        try:
            st = self._store.lastStageAttempt(sid)
        except Exception:  # evicted (retainedStages) before it was read
            sp["stages_unseen"] += 1
            return
        if st.status().toString() == "SKIPPED":
            return
        sp["stages"] += 1
        sp["task_s"] += st.executorRunTime() / 1000.0
        sp["shuffle_write"] += st.shuffleWriteBytes()
        sp["shuffle_read"] += st.shuffleReadBytes()
        sp["spill"] += st.diskBytesSpilled()
        sp["input"] += st.inputBytes()
        sp["failed_tasks"] += st.numFailedTasks()

    # -- wrappers ----------------------------------------------------------

    def wrap_function(self, module, attr: str, name: str, on_result=None) -> None:
        """Replace ``module.attr`` (and every loaded package module's
        reference to the same function) by a wrapper that opens span
        ``name``; ``on_result(span, result)`` may record counts."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name) as sp:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(sp, out)
                return out

        for mod in list(sys.modules.values()):
            if (
                getattr(mod, "__name__", "").startswith("simtradedata_spark")
                and getattr(mod, attr, None) is orig
            ):
                setattr(mod, attr, wrapper)
        setattr(module, attr, wrapper)

    def wrap_method(self, cls, attr: str, name: str) -> None:
        orig = getattr(cls, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(cls, attr, wrapper)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def install(tracer: Tracer) -> None:
    """Wrap the program's layer boundaries: session start, warehouse
    build, PTrade API methods, the iterative operators, scratch release and
    the pandas edge."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    from simtradedata_spark import session
    from simtradedata_spark.api import ptrade
    from simtradedata_spark.functions import caching
    from simtradedata_spark.operators import adjust, bpe, clustering, graph
    from simtradedata_spark.sources import tables

    tracer.wrap_function(session, "get_spark", "session.get_spark")
    tracer.wrap_function(tables, "build_warehouse", "sources.build_warehouse")
    for mod, fn in (
        (graph, "dedup_clusters"),
        (clustering, "kmeans"),
        (clustering, "semantic_dedup"),
        (bpe, "bpe_learn"),
        (adjust, "adjust_bars"),
    ):
        tracer.wrap_function(mod, fn, f"operators.{mod.__name__.rsplit('.', 1)[1]}.{fn}")

    def freed(sp, n):
        sp["freed"] = n

    tracer.wrap_function(caching, "release_scratch", "functions.release_scratch", freed)
    for m in API_METHODS:
        tracer.wrap_method(ptrade.PTradeDataAPI, m, f"api.{m}")
    # toPandas lives on the concrete (classic) DataFrame class
    tracer.wrap_method(ClassicDataFrame, "toPandas", "api.to_pandas")


API_METHODS = ("get_history", "get_price", "get_stock_status", "get_fundamentals", "get_Ashares")
OPERATORS = (
    "graph.dedup_clusters", "clustering.kmeans", "clustering.semantic_dedup",
    "bpe.bpe_learn",
)


def _p50_ms(durs: list[float]) -> float:
    return statistics.median(durs) * 1000.0 if durs else 0.0


def layer_metrics(tracer: Tracer, cores: int, extra: dict[str, float]) -> dict[str, float]:
    """Aggregate the spans into the per-layer metrics. Layers that act in
    the timed phase count only spans inside a timed operation: a top-level
    span marked ``timed``, the same set the ``spark.*`` totals sum (timed
    blocks nested in set-up or warm-up spans do not count). Set-up layers
    count every span."""
    spans = tracer.spans
    by_id = {s["id"]: s for s in spans}
    ops = [s for s in spans if s["parent"] == 0 and s.get("timed")]
    op_ids = {s["id"] for s in ops}

    def timed(s: dict | None) -> bool:
        while s is not None:
            if s["id"] in op_ids:
                return True
            s = by_id.get(s["parent"])
        return False

    def dur(s: dict) -> float:
        return s["end"] - s["start"]

    groups: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        if s["end"] is not None:
            groups[s["name"]].append(s)
    tgroups = {k: [s for s in v if timed(s)] for k, v in groups.items()}

    m: dict[str, float] = {}
    m["session.get_spark_s"] = sum(dur(s) for s in groups["session.get_spark"])
    m["sources.build_warehouse_s"] = sum(dur(s) for s in groups["sources.build_warehouse"])
    api_spans = [s for k in API_METHODS for s in tgroups.get(f"api.{k}", [])]
    m["sources.read_input_mb"] = sum(s["input"] for s in api_spans) / MB
    for k in API_METHODS:
        d = [dur(s) for s in tgroups.get(f"api.{k}", [])]
        m[f"api.{k}.calls"] = len(d)
        m[f"api.{k}.p50_ms"] = _p50_ms(d)
    m["api.spark_jobs_per_call"] = (
        sum(s["jobs"] for s in api_spans) / len(api_spans) if api_spans else 0.0
    )
    m["api.to_pandas_s"] = sum(dur(s) for s in tgroups.get("api.to_pandas", []))
    hist = tgroups.get("api.get_history", [])
    m["api.point_cache_hit_ratio"] = (
        sum(1 for s in hist if s["jobs"] == 0) / len(hist) if hist else 0.0
    )
    builds = tgroups.get("queries.build", [])
    m["queries.build_s"] = sum(dur(s) for s in builds)
    m["queries.build_jobs"] = sum(s["jobs"] for s in builds)
    for op in OPERATORS:
        ss = tgroups.get(f"operators.{op}", [])
        m[f"operators.{op}.s"] = sum(dur(s) for s in ss)
        m[f"operators.{op}.jobs"] = sum(s["jobs"] for s in ss)
    m["operators.adjust.adjust_bars.calls"] = len(tgroups.get("operators.adjust.adjust_bars", []))
    m["spark.plan_s"] = sum(dur(s) for s in tgroups.get("spark.plan", []))
    tot = {f: sum(s[f] for s in ops) for f in SPARK_FIELDS}
    m["spark.exec_s"] = tot["job_s"]
    m["spark.jobs"] = tot["jobs"]
    m["spark.stages"] = tot["stages"]
    m["spark.task_time_s"] = tot["task_s"]
    m["spark.core_utilization"] = (
        tot["task_s"] / (tot["job_s"] * cores) if tot["job_s"] else 0.0
    )
    m["spark.shuffle_write_mb"] = tot["shuffle_write"] / MB
    m["spark.shuffle_read_mb"] = tot["shuffle_read"] / MB
    m["spark.spill_mb"] = tot["spill"] / MB
    m["spark.input_mb"] = tot["input"] / MB
    m["spark.failed_tasks"] = tot["failed_tasks"]
    m["spark.stages_unseen"] = tot["stages_unseen"]
    rel = tgroups.get("functions.release_scratch", [])
    m["functions.release_scratch_s"] = sum(dur(s) for s in rel)
    m["functions.scratch_blocks_freed"] = sum(s.get("freed", 0) for s in rel)
    m.update(extra)
    return m
