"""Spans and Spark attribution for the traced benchmark run.

Nothing here changes the engine: ``install`` replaces public functions
of ``ekati_spark`` (and the pyspark actions they call) with wrappers
that record a span around each call, and ``restore`` puts the originals
back. Spans live in memory; ``Tracer.dump`` writes them out at the end.

A span is ``{id, name, parent, op, start, end}``; every span of one
request or query carries the same ``op`` id. A span's layer is the part
of its name before the first dot. Self time is a span's duration minus
the part of it that child spans cover (``self_times``).

``SparkProbe`` attributes Spark's own counters to an op: each op runs
under its own job group, and the stages, SQL executions and plan nodes
of that group's jobs are summed once the op has finished.
"""

from __future__ import annotations

import functools
import itertools
import json
import re
import sys
import threading
import time
from contextlib import contextmanager

# pyspark actions timed as the ``spark`` layer
_ACTIONS = ("collect", "count", "toLocalIterator", "localCheckpoint", "checkpoint")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.ops: dict[str, dict] = {}
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self._inflight = 0
        self._idle = threading.Condition(self._lock)

    # -- spans -------------------------------------------------------------

    def _stack(self) -> list[dict]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @contextmanager
    def inflight(self):
        """Marks work that ``drain`` waits for (a server thread still
        reading an op's counters after its reply went out)."""
        with self._lock:
            self._inflight += 1
        try:
            yield
        finally:
            with self._lock:
                self._inflight -= 1
                self._idle.notify_all()

    def drain(self, timeout: float) -> None:
        with self._lock:
            self._idle.wait_for(lambda: self._inflight == 0, timeout)

    def current_op(self) -> str | None:
        return getattr(self._tls, "op", None)

    def op_record(self, op: str | None = None) -> dict:
        op = op or self.current_op() or "-"
        with self._lock:
            return self.ops.setdefault(op, {})

    @contextmanager
    def op(self, op_id: str):
        """Spans opened inside belong to ``op_id``."""
        prev = getattr(self._tls, "op", None)
        self._tls.op = op_id
        self.op_record(op_id)
        try:
            yield
        finally:
            self._tls.op = prev

    @contextmanager
    def span(self, name: str):
        st = self._stack()
        parent = st[-1] if st else None
        s = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": self.current_op(),
            "start": time.perf_counter(),
            "end": None,
        }
        st.append(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            st.pop()
            with self._lock:
                self.spans.append(s)

    @contextmanager
    def quiet(self):
        """Calls made inside (the probe's own Spark reads) record no span."""
        prev = getattr(self._tls, "off", False)
        self._tls.off = True
        try:
            yield
        finally:
            self._tls.off = prev

    def wrap(self, fn, name: str, before=None, after=None):
        """``fn`` with a span around each call. A call nested directly in
        a span of the same name (recursion) is not recorded again.
        ``before(args)`` returns a token handed to
        ``after(token, span, args, result)``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            st = self._stack()
            if getattr(self._tls, "off", False) or (st and st[-1]["name"] == name):
                return fn(*args, **kwargs)
            token = before(args) if before else None
            with self.span(name) as s:
                out = fn(*args, **kwargs)
            if after:
                after(token, s, args, out)
            return out

        return traced

    def patch(self, owner, attr: str, name: str, **hooks) -> None:
        orig = getattr(owner, attr)
        setattr(owner, attr, self.wrap(orig, name, **hooks))
        self._patches.append((owner, attr, orig))

    def patch_everywhere(self, module, attr: str, name: str) -> None:
        """Patch ``module.attr`` and every ``ekati_spark`` module that
        imported the same function by name."""
        orig = getattr(module, attr)
        wrapped = self.wrap(orig, name)
        for m in list(sys.modules.values()):
            mod_name = getattr(m, "__name__", "")
            if mod_name.startswith("ekati_spark") and getattr(m, attr, None) is orig:
                setattr(m, attr, wrapped)
                self._patches.append((m, attr, orig))

    def restore(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps({
                    **s,
                    "start": round((s["start"] - t0) * 1e3, 3),
                    "end": round((s["end"] - t0) * 1e3, 3),
                }) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> seconds of its interval that no child span covers."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, edge = 0.0, s["start"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], edge), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                edge = hi
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def layer(name: str) -> str:
    return name.split(".", 1)[0]


# -- Spark attribution -------------------------------------------------------

_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ms": 1, "s": 1e3, "m": 6e4, "h": 3.6e6,
}
_PY_METRICS = {
    "time to run Python workers": "python_total_ms",
    "time to start Python workers": "python_boot_ms",
    "time to initialize Python workers": "python_init_ms",
    "data sent to Python workers": "data_sent_bytes",
    "data returned from Python workers": "data_received_bytes",
}


def parse_metric_value(text: str) -> float:
    """A SQL metric as the status store formats it: ``'26.3 KiB'``,
    ``'198 ms'``, ``'1,234'`` or, over several tasks,
    ``'total (min, med, max ...)\\n5.1 s (...)'``. Sizes come back in
    bytes, times in milliseconds."""
    line = text.split("\n")[1] if "\n" in text else text
    parts = line.replace(",", "").split()
    if not parts:
        return 0.0
    value = float(parts[0])
    return value * _UNITS.get(parts[1], 1) if len(parts) > 1 else value


def plan_counts(plan_text: str) -> tuple[int, int]:
    """(shuffle Exchange nodes, SortMergeJoin nodes) in the executed tree
    of a physical-plan description (the AQE final plan when present)."""
    tree = plan_text.split("\n\n", 1)[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    return (
        len(re.findall(r"(?<![A-Za-z])Exchange\b", tree)),
        len(re.findall(r"(?<![A-Za-z])SortMergeJoin\b", tree)),
    )


class SparkProbe:
    """Reads the counters of one op's jobs out of Spark's status stores."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._stage_defaults = [
            getattr(self.store, f"stageData$default${i}")() for i in range(2, 6)
        ]
        self.max_stage = -1

    def begin(self, op: str) -> int:
        """Put the calling thread's jobs in group ``op``; returns the
        highest stage id seen before it, for ``finish``."""
        self.sc.setJobGroup(op, op)
        return self.max_stage

    def jobs(self, op: str) -> list[int]:
        return list(self.tracker.getJobIdsForGroup(op))

    def finish(self, op: str, stage_floor: int) -> dict:
        """Counters of the op's jobs. Stages are taken from the group's
        jobs and must be newer than ``stage_floor``: the status store is
        bounded, so old stage ids can be evicted and reused ids must
        never be counted twice."""
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = self.jobs(op)
        stage_ids: set[int] = set()
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict.fromkeys(
            ("stages", "tasks", "executor_run_ms", "executor_cpu_ms",
             "jvm_gc_ms", "input_rows", "shuffle_read_bytes",
             "shuffle_write_bytes", "spill_bytes",
             "peak_execution_memory_bytes"), 0.0)
        out["jobs"] = float(len(jobs))
        for sid in sorted(stage_ids):
            if sid <= stage_floor:
                continue
            seq = self.store.stageData(sid, *self._stage_defaults)
            for i in range(seq.size()):
                s = seq.apply(i)
                if str(s.status()) != "COMPLETE":
                    continue
                out["stages"] += 1
                out["tasks"] += s.numCompleteTasks()
                out["executor_run_ms"] += s.executorRunTime()
                out["executor_cpu_ms"] += s.executorCpuTime() / 1e6
                out["jvm_gc_ms"] += s.jvmGcTime()
                out["input_rows"] += s.inputRecords()
                out["shuffle_read_bytes"] += s.shuffleReadBytes()
                out["shuffle_write_bytes"] += s.shuffleWriteBytes()
                out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                out["peak_execution_memory_bytes"] = max(
                    out["peak_execution_memory_bytes"], s.peakExecutionMemory()
                )
        if stage_ids:
            self.max_stage = max(self.max_stage, max(stage_ids))
        out.update(self._sql_executions(set(jobs)))
        return out

    def _sql_executions(self, jobs: set[int], window: int = 128) -> dict:
        """Plan-node counts and Python-worker metrics over the op's SQL
        executions (an engine call may run several: every eager lineage
        cut is an execution of its own)."""
        out = {"exchanges": 0.0, "sort_merge_joins": 0.0}
        out.update({k: 0.0 for k in _PY_METRICS.values()})
        if not jobs:
            return out
        n = self.sql.executionsCount()
        k = min(n, window)
        execs = self.sql.executionsList(n - k, k)
        for i in range(execs.size()):
            e = execs.apply(i)
            it = e.jobs().keys().iterator()
            ej = set()
            while it.hasNext():
                ej.add(int(it.next()))
            if not ej & jobs:
                continue
            ex, smj = plan_counts(e.physicalPlanDescription())
            out["exchanges"] += ex
            out["sort_merge_joins"] += smj
            values = self.sql.executionMetrics(e.executionId())
            seen = set()
            mi = e.metrics().iterator()
            while mi.hasNext():
                m = mi.next()
                key = _PY_METRICS.get(m.name())
                if key is None or m.accumulatorId() in seen:
                    continue
                seen.add(m.accumulatorId())
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    out[key] += parse_metric_value(v.get())
        return out


def catalyst_phases(df) -> dict[str, float]:
    """Analysis/optimization/planning ms of ``df``'s QueryExecution; the
    plan is forced first, so a DataFrame that was never executed itself
    (its action ran on a derived Dataset) reports its planning cost."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for p in ("analysis", "optimization", "planning"):
        o = phases.get(p)
        out[p + "_ms"] = float(o.get().durationMs()) if o.isDefined() else 0.0
    return out


# -- installing the wrappers -------------------------------------------------


def install(tracer: Tracer, probe: SparkProbe) -> None:
    """Wrap the layer entry points named in the module docstring."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    import ekati_spark.catalog as catalog
    import ekati_spark.graph.compiler as compiler
    import ekati_spark.server as server
    from ekati_spark.wire import bridge
    from ekati_spark.wire import proto as W

    depths: dict[int, int] = {}  # id(engine) -> put batches unioned

    def jobs_now(_args):
        op = tracer.current_op()
        return (op, len(probe.jobs(op))) if op else None

    def count_jobs(key):
        def after(token, span, args, result):
            if token:
                op, n0 = token
                rec = tracer.op_record(op)
                rec[key] = rec.get(key, 0) + len(probe.jobs(op)) - n0
        return after

    def after_get(token, span, args, df):
        count_jobs("build_jobs")(token, span, args, df)
        rec = tracer.op_record()
        rec.setdefault("dfs", []).append(df)
        rec["union_depth"] = depths.get(id(args[0]), 0)

    def after_put(token, span, args, df):
        count_jobs("build_jobs")(token, span, args, df)
        depths[id(args[0])] = depths.get(id(args[0]), 0) + 1
        tracer.op_record().setdefault("dfs", []).append(df)

    def add_bytes(key, which):
        def after(token, span, args, result):
            rec = tracer.op_record()
            rec[key] = rec.get(key, 0) + len(args[1] if which == "arg" else result)
        return after

    def rows_out(token, span, args, result):
        rec = tracer.op_record()
        rec["result_rows"] = rec.get("result_rows", 0) + len(args[0] if isinstance(args[0], list) else result)

    tracer.patch(compiler, "parse", "parser.parse")
    tracer.patch(compiler, "follow", "traverse.follow",
                 before=jobs_now, after=count_jobs("follow_jobs"))
    tracer.patch(compiler.QueryEngine, "run_get", "compiler.run_get",
                 before=jobs_now, after=after_get)
    tracer.patch(compiler.QueryEngine, "run_put", "compiler.run_put",
                 before=jobs_now, after=after_put)
    tracer.patch(W, "decode", "wire.decode", after=add_bytes("bytes_in", "arg"))
    tracer.patch(W, "encode", "wire.encode", after=add_bytes("bytes_out", "result"))
    for fn in ("node_msg_to_put", "query_msg_to_get"):
        tracer.patch(bridge, fn, "wire.bridge")
    tracer.patch(bridge, "rows_to_node_msgs", "wire.bridge", after=rows_out)
    tracer.patch(server, "_rows", "server.rows", after=rows_out)
    tracer.patch(server.EkatiServer, "grpc_call", "server.grpc")
    tracer.patch_everywhere(catalog, "load_table", "catalog.load_table")
    for action in _ACTIONS:
        tracer.patch(DataFrame, action, "spark." + action)
    tracer.patch(DataFrameWriter, "save", "spark.save")


def install_server(tracer: Tracer, probe: SparkProbe, srv) -> None:
    """Wrap one ``EkatiServer``'s request handler: each request is an op
    (id from the ``X-Bench-Op`` header) under its own job group; its
    counters are read after the reply has been written, so the client's
    latency does not include them."""
    handler = srv._httpd.RequestHandlerClass
    tracer.patch(handler, "_reply", "server.encode")
    tracer.patch(handler, "_reply_proto", "server.encode")
    orig = handler.do_POST

    def do_post(self):
        op = self.headers.get("X-Bench-Op") or f"anon-{id(self)}"
        floor = probe.begin(op)
        with tracer.inflight(), tracer.op(op):
            with tracer.span("server.request"):
                orig(self)
            with tracer.quiet():
                finish_op(tracer, probe, op, floor)

    handler.do_POST = do_post
    tracer._patches.append((handler, "do_POST", orig))


def finish_op(tracer: Tracer, probe: SparkProbe, op: str, floor: int) -> None:
    rec = tracer.op_record(op)
    rec["spark"] = probe.finish(op, floor)
    phases = {"analysis_ms": 0.0, "optimization_ms": 0.0, "planning_ms": 0.0}
    for df in rec.pop("dfs", []):
        for k, v in catalyst_phases(df).items():
            phases[k] += v
    rec["catalyst"] = phases
