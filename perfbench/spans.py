"""Per-layer tracing for the traced run.

Spans are recorded from the benchmark's side of each layer boundary: the
benchmark wraps the library's public entry points (``QueryBuilder``
calls, ``KeySet`` constructors, ``QueryExpr.schema``, ``rewrite``,
``compile_measurement``/``compile_transform`` as ``session`` calls them,
``Session`` methods) and the Spark calls the session makes
(``DataFrame.localCheckpoint``) or the benchmark makes (``toPandas``,
``read.parquet``). Nothing inside the library changes.

Each operation runs under its own Spark job group. After Spark stops,
the event log is read back and every job, stage and task is attributed
to its operation through the job group, and each job to the innermost
span that was open when it was submitted.

A layer's self time is its span's duration minus the time its child
spans cover; per operation the self times of all layers plus the
benchmark's own residue sum to the operation's latency.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import time
from collections import defaultdict
from dataclasses import dataclass, field
from typing import Dict, List, Optional

#: Layers whose self time is reported, in report order.
TIME_LAYERS = [
    ("builder", "builder.build_s"),
    ("keyset", "keyset.build_s"),
    ("expr", "expr.validate_s"),
    ("rewrite", "rewrite.rewrite_s"),
    ("compiler", "compiler.compile_s"),
    ("catalyst", "catalyst.plan_s"),
    ("session", "session.evaluate_s"),
    ("checkpoint", "session.checkpoint_s"),
    ("view", "session.view_s"),
    ("fetch", "fetch.collect_s"),
]
PLAN_COUNTERS = ["plan.nodes", "plan.exchanges", "plan.broadcasts",
                 "plan.python_nodes", "plan.windows", "plan.generates"]
EXEC_METRICS = ["exec.jobs", "exec.stages", "exec.tasks", "exec.run_s",
                "exec.cpu_s", "exec.gc_s", "exec.sched_delay_s",
                "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
                "exec.spill_bytes", "exec.python_rows"]
#: Counters that must repeat exactly between two runs of the same code.
DETERMINISTIC = PLAN_COUNTERS + ["compiler.jobs", "session.checkpoint_jobs",
                                 "exec.jobs", "keyset.groups", "noise.rows",
                                 "fetch.rows"]
#: Layers whose jobs run before the result's action.
_ACTION_LAYERS = {"checkpoint", "catalyst", "fetch"}
GATE_GROUP = "perfbench-gate"
#: Names of the library's noise sampler UDFs as they appear in plans.
_NOISE_UDF = re.compile(r"\b_(geo|lap|gau|dgau)\(")
_PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")


@dataclass
class Span:
    layer: str
    start: float
    end: float = 0.0
    parent: int = -1


@dataclass
class OpTrace:
    name: str
    group: str
    spans: List[Span] = field(default_factory=list)
    counters: Dict[str, float] = field(default_factory=lambda: defaultdict(float))
    latency_s: float = 0.0


def plan_counters(plan: str) -> Dict[str, int]:
    """Count node kinds in a physical plan's tree string."""
    names = []
    for line in plan.splitlines():
        body = line.lstrip(" :|+-")
        body = re.sub(r"^\*\(\d+\)\s*", "", body)
        if body:
            names.append(body.split("(")[0].split(" ")[0])
    return {
        "plan.nodes": len(names),
        "plan.exchanges": sum(n.endswith("Exchange") for n in names),
        "plan.broadcasts": sum(n == "BroadcastExchange" for n in names),
        "plan.python_nodes": sum(bool(_PYTHON_NODE.search(n)) for n in names),
        "plan.windows": sum(n.startswith("Window") for n in names),
        "plan.generates": sum(n == "Generate" for n in names),
    }


class Tracer:
    """Collects spans for the operation in progress."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.setup_spans: List[Span] = []
        self._op: Optional[OpTrace] = None
        self._open: List[int] = []
        self._paused = 0
        self._in_setup = False

    # --- operation and phase boundaries --------------------------------
    def begin_setup(self) -> None:
        self._in_setup = True

    def end_setup(self) -> None:
        self._in_setup = False

    def begin_op(self, index: int, name: str) -> None:
        self._op = OpTrace(name, f"perfbench-op-{index}")
        self._open = []
        self._sc.setJobGroup(self._op.group, name)

    def end_op(self, latency_s: float) -> OpTrace:
        op, self._op = self._op, None
        op.latency_s = latency_s
        self._sc.setJobGroup(GATE_GROUP, "gate")
        return op

    def pause(self) -> None:
        """Stop recording; Spark jobs from here on belong to the gate."""
        self._paused += 1
        self._sc.setJobGroup(GATE_GROUP, "gate")

    def resume(self) -> None:
        self._paused -= 1
        if self.active:
            self._sc.setJobGroup(self._op.group, self._op.name)

    @property
    def active(self) -> bool:
        return self._op is not None and not self._paused

    def count(self, name: str, value: float) -> None:
        if self.active:
            self._op.counters[name] += value

    # --- spans ----------------------------------------------------------
    def _spans(self) -> Optional[List[Span]]:
        if self._paused:
            return None
        if self._op is not None:
            return self._op.spans
        return self.setup_spans if self._in_setup else None

    def wrap(self, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            spans = tracer._spans()
            # Re-entry into the same layer stays inside the outer span.
            if spans is None or (tracer._open and spans[tracer._open[-1]].layer == layer):
                return fn(*args, **kwargs)
            parent = tracer._open[-1] if tracer._open else -1
            spans.append(Span(layer, time.time(), parent=parent))
            idx = len(spans) - 1
            tracer._open.append(idx)
            try:
                return fn(*args, **kwargs)
            finally:
                spans[idx].end = time.time()
                tracer._open.pop()

        return wrapper


def _wrap_attr(tracer: Tracer, owner, attr: str, layer: str, undo: list) -> None:
    raw = owner.__dict__[attr]
    if isinstance(raw, classmethod):
        new = classmethod(tracer.wrap(layer, raw.__func__))
    elif isinstance(raw, staticmethod):
        new = staticmethod(tracer.wrap(layer, raw.__func__))
    else:
        new = tracer.wrap(layer, raw)
    setattr(owner, attr, new)
    undo.append((owner, attr, raw))


def install(tracer: Tracer) -> list:
    """Wrap the library's layer entry points; returns an undo list."""
    import pyspark.sql.readwriter as rw
    from pyspark.sql.classic.dataframe import DataFrame

    import tumult_analytics_spark.session as S
    from tumult_analytics_spark import builder as B
    from tumult_analytics_spark import keyset as K
    from tumult_analytics_spark.plans import expr as E

    undo: list = []
    for cls in (B.QueryBuilder, B.GroupedQueryBuilder, B.GroupbyCountQuery):
        for attr, val in list(vars(cls).items()):
            if callable(val) and not attr.startswith("_"):
                _wrap_attr(tracer, cls, attr, "builder", undo)
    for attr in ("from_dict", "from_tuples", "from_dataframe", "join", "__mul__",
                 "__sub__", "union", "filter", "__getitem__"):
        _wrap_attr(tracer, K.KeySet, attr, "keyset", undo)
    for cls in vars(E).values():
        if isinstance(cls, type) and issubclass(cls, E.QueryExpr) and "schema" in vars(cls):
            _wrap_attr(tracer, cls, "schema", "expr", undo)
    for attr, layer in (("rewrite", "rewrite"), ("compile_measurement", "compiler"),
                        ("compile_transform", "compiler")):
        _wrap_attr(tracer, S, attr, layer, undo)
    # Views and partitions are the session's write path: one layer.
    for attr, layer in (("evaluate", "session"), ("create_view", "view"),
                        ("delete_view", "view"), ("partition_and_create", "view")):
        _wrap_attr(tracer, S.Session, attr, layer, undo)
    _wrap_attr(tracer, S.Session.Builder, "build", "register", undo)
    _wrap_attr(tracer, rw.DataFrameReader, "parquet", "sources", undo)

    checkpoint = DataFrame.localCheckpoint
    to_pandas = DataFrame.toPandas

    def plan_then_checkpoint(self, *args, **kwargs):
        if tracer.active:
            def plan():
                return self._jdf.queryExecution().executedPlan().toString()

            text = tracer.wrap("catalyst", plan)()
            for k, v in plan_counters(text).items():
                tracer.count(k, v)
        return checkpoint(self, *args, **kwargs)

    def fetch(self, *args, **kwargs):
        out = to_pandas(self, *args, **kwargs)
        tracer.count("fetch.rows", len(out))
        return out

    DataFrame.localCheckpoint = tracer.wrap("checkpoint", plan_then_checkpoint)
    DataFrame.toPandas = tracer.wrap("fetch", fetch)
    undo += [(DataFrame, "localCheckpoint", checkpoint), (DataFrame, "toPandas", to_pandas)]
    return undo


def uninstall(undo: list) -> None:
    for owner, attr, raw in reversed(undo):
        setattr(owner, attr, raw)


# ---------------------------------------------------------------------------
# Self times


def self_times(spans: List[Span]) -> Dict[str, float]:
    child = [0.0] * len(spans)
    for s in spans:
        if s.parent >= 0:
            child[s.parent] += s.end - s.start
    out: Dict[str, float] = defaultdict(float)
    for i, s in enumerate(spans):
        out[s.layer] += (s.end - s.start) - child[i]
    return out


def _innermost(spans: List[Span], t: float) -> str:
    best, width = "bench", float("inf")
    for s in spans:
        if s.start - 0.001 <= t <= s.end and s.end - s.start < width:
            best, width = s.layer, s.end - s.start
    return best


# ---------------------------------------------------------------------------
# Event log


def _plan_nodes(info: dict):
    stack = [info]
    while stack:
        node = stack.pop()
        yield node
        stack.extend(node.get("children", ()))


def read_event_log(log_dir: str) -> dict:
    """Per job group: jobs with submission times, and task/stage totals."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
             if os.path.isfile(p)]
    job_group: Dict[int, str] = {}
    job_time: Dict[int, float] = {}
    stage_jobs: Dict[int, int] = {}
    exec_group: Dict[int, str] = {}
    python_acc: Dict[int, bool] = {}  # accumulator id -> is the noise UDF
    groups: Dict[str, dict] = defaultdict(lambda: defaultdict(float))
    acc_updates: Dict[str, Dict[int, float]] = defaultdict(lambda: defaultdict(float))
    stages_seen = set()
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id")
                    jid = ev["Job ID"]
                    if group is None:
                        continue
                    job_group[jid] = group
                    job_time[jid] = ev["Submission Time"] / 1000.0
                    for sid in ev.get("Stage IDs", ()):
                        stage_jobs.setdefault(sid, jid)
                    eid = props.get("spark.sql.execution.id")
                    if eid is not None:
                        exec_group.setdefault(int(eid), group)
                    groups[group]["exec.jobs"] += 1
                elif kind.endswith("SQLExecutionStart") or kind.endswith(
                        "SQLAdaptiveExecutionUpdate"):
                    for node in _plan_nodes(ev.get("sparkPlanInfo") or {}):
                        if _PYTHON_NODE.search(node.get("nodeName", "")):
                            noise = bool(_NOISE_UDF.search(node.get("simpleString", "")))
                            for m in node.get("metrics", ()):
                                if m.get("name") == "number of output rows":
                                    python_acc[m["accumulatorId"]] = noise
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_jobs.get(ev.get("Stage ID"))
                    group = job_group.get(jid)
                    if group is None:
                        continue
                    g = groups[group]
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    run_ms = m.get("Executor Run Time", 0)
                    g["exec.tasks"] += 1
                    g["exec.run_s"] += run_ms / 1000.0
                    g["exec.cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["exec.gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    wall = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    busy = (run_ms + m.get("Executor Deserialize Time", 0)
                            + m.get("Result Serialization Time", 0))
                    g["exec.sched_delay_s"] += max(0, wall - busy) / 1000.0
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    g["exec.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    g["exec.shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                     + sr.get("Local Bytes Read", 0))
                    g["exec.spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                              + m.get("Disk Bytes Spilled", 0))
                    for acc in info.get("Accumulables", ()):
                        upd = acc.get("Update")
                        if isinstance(upd, (int, float)) or (isinstance(upd, str) and upd.isdigit()):
                            acc_updates[group][acc["ID"]] += float(upd)
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    group = job_group.get(stage_jobs.get(sid))
                    if group is not None and sid not in stages_seen:
                        stages_seen.add(sid)
                        groups[group]["exec.stages"] += 1
    for group, accs in acc_updates.items():
        for acc_id, total in accs.items():
            if acc_id in python_acc:
                groups[group]["exec.python_rows"] += total
                if python_acc[acc_id]:
                    groups[group]["noise.rows"] += total
    jobs_by_group: Dict[str, List[float]] = defaultdict(list)
    for jid, group in job_group.items():
        jobs_by_group[group].append(job_time[jid])
    return {"groups": groups, "jobs": jobs_by_group}


def op_metrics(op: OpTrace, log: dict) -> Dict[str, float]:
    """All per-layer numbers of one traced operation."""
    out: Dict[str, float] = {}
    selfs = self_times(op.spans)
    for layer, metric in TIME_LAYERS:
        out[metric] = selfs.get(layer, 0.0)
    covered = sum(s.end - s.start for s in op.spans if s.parent < 0)
    out["bench.residual_s"] = max(0.0, op.latency_s - covered)
    out["trace.latency_s"] = op.latency_s
    for name in PLAN_COUNTERS + ["fetch.rows", "keyset.groups"]:
        out[name] = op.counters.get(name, 0.0)
    g = log["groups"].get(op.group, {})
    for name in EXEC_METRICS + ["noise.rows"]:
        out[name] = g.get(name, 0.0)
    compiler_jobs = checkpoint_jobs = 0
    for t in log["jobs"].get(op.group, ()):
        layer = _innermost(op.spans, t)
        if layer == "checkpoint":
            checkpoint_jobs += 1
        elif layer not in _ACTION_LAYERS:
            compiler_jobs += 1
    out["compiler.jobs"] = compiler_jobs
    out["session.checkpoint_jobs"] = checkpoint_jobs
    return out


def setup_metrics(spans: List[Span], reps: int) -> Dict[str, float]:
    selfs = self_times(spans)
    return {
        "session.register_s": selfs.get("register", 0.0) / reps,
        "sources.read_s": selfs.get("sources", 0.0) / reps,
    }
