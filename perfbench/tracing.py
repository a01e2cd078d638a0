"""Spans from the benchmark's own code, and per-layer metrics read from
the Spark event log.

Every call into a layer runs inside ``Tracer.span(kind)``. The span
records its wall time in memory and sets the Spark job group to
``op<i>/<kind>`` (or ``setup/<kind>``), so every job, stage, task and SQL
execution in the event log can be attributed to the span that caused it.
The event log is parsed once, after the session stops.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from collections import Counter, defaultdict
from dataclasses import dataclass, field

from workloads import ZOOMS


@dataclass
class Span:
    name: str
    parent: str | None
    start: float
    end: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans; written out only at the end of the run."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        path = f"{parent}/{name}" if parent else name
        s = Span(path, parent, time.perf_counter())
        self._stack.append(path)
        self.sc.setJobGroup(path, path)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.sc.setJobGroup(self._stack[-1] if self._stack else "idle", "")
            self.spans.append(s)


# ---------- event log ----------

_SQL = "org.apache.spark.sql.execution.ui."


@dataclass
class Node:
    exec_id: int
    name: str
    desc: str
    metrics: dict[str, tuple[int, str]]  # metric name -> (accumulator id, type)
    input_rows_acc: int | None = None  # nearest descendant's output-row counter


@dataclass
class EventLog:
    nodes: dict[int, Node] = field(default_factory=dict)  # keyed by first acc id
    acc_total: Counter = field(default_factory=Counter)
    stage_accs: dict[int, set] = field(default_factory=lambda: defaultdict(set))
    stage_group: dict[int, str] = field(default_factory=dict)
    stage_task_ms: dict[int, list] = field(default_factory=lambda: defaultdict(list))
    job_group: dict[int, str] = field(default_factory=dict)
    exec_group: dict[int, str] = field(default_factory=dict)
    exec_root: dict[int, str] = field(default_factory=dict)
    exec_time: dict[int, list] = field(default_factory=dict)


def _walk(log: EventLog, info: dict, exec_id: int) -> int | None:
    """Register plan nodes; returns the output-row counter of ``info`` or,
    if it has none, of its first descendant that does."""
    child_rows = [_walk(log, c, exec_id) for c in info.get("children", [])]
    metrics = {m["name"]: (m["accumulatorId"], m["metricType"]) for m in info["metrics"]}
    below = next((r for r in child_rows if r is not None), None)
    if metrics:
        key = min(a for a, _ in metrics.values())
        log.nodes.setdefault(key, Node(exec_id, info["nodeName"],
                                       info.get("simpleString", ""), metrics, below))
    rows = metrics.get("number of output rows")
    return rows[0] if rows else below


def parse_event_log(path: str) -> EventLog:
    log = EventLog()
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            e = json.loads(line)
            ev = e["Event"]
            if ev in (_SQL + "SparkListenerSQLExecutionStart",
                      _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                _walk(log, e["sparkPlanInfo"], e["executionId"])
                if ev.endswith("Start"):
                    root = e["sparkPlanInfo"]
                    while root["nodeName"] == "AdaptiveSparkPlan" and root["children"]:
                        root = root["children"][0]
                    log.exec_root[e["executionId"]] = root["nodeName"]
                    log.exec_time[e["executionId"]] = [e["time"], e["time"]]
            elif ev == _SQL + "SparkListenerSQLExecutionEnd":
                if e["executionId"] in log.exec_time:
                    log.exec_time[e["executionId"]][1] = e["time"]
            elif ev == _SQL + "SparkListenerDriverAccumUpdates":
                for acc, v in e["accumUpdates"]:
                    if int(v) > 0:
                        log.acc_total[acc] += int(v)
            elif ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                group = props.get("spark.jobGroup.id", "")
                log.job_group[e["Job ID"]] = group
                if "spark.sql.execution.id" in props:
                    log.exec_group.setdefault(int(props["spark.sql.execution.id"]), group)
            elif ev == "SparkListenerStageSubmitted":
                props = e.get("Properties") or {}
                log.stage_group[e["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id", "")
            elif ev == "SparkListenerTaskEnd":
                sid = e["Stage ID"]
                tm = e.get("Task Metrics") or {}
                log.stage_task_ms[sid].append(tm.get("Executor Run Time", 0))
                for a in e["Task Info"].get("Accumulables", []):
                    try:
                        v = int(a.get("Update", 0))
                    except (TypeError, ValueError):
                        continue
                    log.stage_accs[sid].add(a["ID"])
                    if v > 0:
                        log.acc_total[a["ID"]] += v
    return log


# ---------- per-layer metrics ----------

# name -> (unit, better); every workload prints every name (0 where the
# layer does no work on that workload)
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "session.warmup_s": ("s", "lower"),
    "tiling.assign_s": ("s", "lower"),
    "tiling.rows_out": ("count", "lower"),
    "materialize.precap_rows_in": ("count", "lower"),
    "materialize.precap_rows_out": ("count", "lower"),
    "materialize.exchange_bytes": ("B", "lower"),
    "materialize.exchange_records": ("count", "lower"),
    "materialize.exchange_write_s": ("s", "lower"),
    "materialize.fetch_wait_s": ("s", "lower"),
    "materialize.sort_s": ("s", "lower"),
    "materialize.spill_bytes": ("B", "lower"),
    "materialize.task_skew": ("ratio", "lower"),
    "materialize.encode_passes": ("ratio", "lower"),
    "materialize.python_s": ("s", "lower"),
    "materialize.arrow_bytes_in": ("B", "lower"),
    "materialize.arrow_bytes_out": ("B", "lower"),
    "covt.encode_us_per_tile.p50": ("us", "lower"),
    "covt.encode_us_per_tile.p99": ("us", "lower"),
    "covt.encode_ns_per_feature": ("ns", "lower"),
    "covt.mvt_size_us_per_tile.p50": ("us", "lower"),
    "covt.decode_us_per_tile.p50": ("us", "lower"),
    "covt.decode_us_per_tile.p99": ("us", "lower"),
    "covt.decode_ns_per_feature": ("ns", "lower"),
    "covt.kernel_share_pct": ("%", "higher"),
    **{f"covt.bytes_per_feature.z{z}": ("B", "lower") for z in ZOOMS},
    **{f"covt.mvt_bytes_per_feature.z{z}": ("B", "lower") for z in ZOOMS},
    "pip.candidate_rows": ("count", "lower"),
    "pip.python_s": ("s", "lower"),
    "pip.kernel_ns_per_point_edge": ("ns", "lower"),
    "knn.candidate_pairs": ("count", "lower"),
    "knn.useful_pair_frac": ("ratio", "higher"),
    "knn.fallback_queries": ("count", "lower"),
    "knn.window_s": ("s", "lower"),
    "delta.changed_tiles": ("count", "lower"),
    "delta.unchanged_tiles": ("count", "higher"),
    "delta.jobs_per_op": ("count", "lower"),
    "lineage.files_written": ("count", "lower"),
    "lineage.commit_s": ("s", "lower"),
    "sink.write_s": ("s", "lower"),
    "sink.bytes": ("B", "lower"),
    "sink.files": ("count", "lower"),
    "spark.jobs_per_op": ("count", "lower"),
    "spark.stages_per_op": ("count", "lower"),
    "spark.tasks_per_op": ("count", "lower"),
    "spark.executor_s": ("s", "lower"),
    "spark.core_util": ("ratio", "higher"),
}

_ENCODE_KINDS = ("build", "delta")  # spans that run the tile encode path
_PY_KINDS = ("build", "delta", "read")  # spans whose Python stages are the codec streams
_WRITE = "Execute InsertIntoHadoopFsRelationCommand"


def _kind(group: str) -> str | None:
    """'op3/build' -> 'build'; None for setup/idle groups."""
    return group.split("/", 1)[1] if group.startswith("op") and "/" in group else None


class Layers:
    """Queries over one parsed event log, restricted to op spans."""

    def __init__(self, log: EventLog):
        self.log = log

    def nodes(self, kinds, name_prefix: str = "", desc_has: str = ""):
        out = []
        for n in self.log.nodes.values():
            if _kind(self.log.exec_group.get(n.exec_id, "")) not in kinds:
                continue
            if n.name.startswith(name_prefix) and desc_has in n.desc:
                out.append(n)
        return out

    def value(self, nodes, metric: str) -> float:
        """Sum of ``metric`` over ``nodes``, in seconds for timings."""
        total = 0.0
        for n in nodes:
            if metric not in n.metrics:
                continue
            acc, kind = n.metrics[metric]
            v = self.log.acc_total.get(acc, 0)
            total += v / 1e9 if kind == "nsTiming" else v / 1e3 if kind == "timing" else v
        return total

    def stages(self, kinds, nodes=None) -> list[int]:
        """Stages run under ``kinds`` spans; if ``nodes`` is given, only
        those that updated one of their counters."""
        accs = None
        if nodes is not None:
            accs = {a for n in nodes for a, _ in n.metrics.values()}
        return [s for s, g in self.log.stage_group.items()
                if _kind(g) in kinds and (accs is None or self.log.stage_accs[s] & accs)]

    def executor_s(self, stages) -> float:
        return sum(sum(self.log.stage_task_ms[s]) for s in stages) / 1e3

    def jobs(self, kinds) -> int:
        return sum(1 for g in self.log.job_group.values() if _kind(g) in kinds)

    def exec_s(self, kinds, root: str) -> float:
        return sum((t[1] - t[0]) / 1e3 for x, t in self.log.exec_time.items()
                   if self.log.exec_root.get(x, "").startswith(root)
                   and _kind(self.log.exec_group.get(x, "")) in kinds)


def spark_layer_metrics(log: EventLog, run: dict) -> dict[str, float]:
    """Per-op event-log metrics. ``run`` holds what the benchmark knows
    about its own ops: n_ops, op walls, cores, tiles encoded, result rows,
    point count, op kinds."""
    L = Layers(log)
    n_ops = run["n_ops"]
    ops = run["kinds"]
    m: dict[str, float] = {}

    tiling_kinds = ("build", "delta", "pip")
    gen = L.nodes(tiling_kinds, "Generate")
    py = L.nodes(tiling_kinds, "MapIn")
    assign_stages = L.stages(tiling_kinds, gen)
    # the assign stage also runs the map-side pre-cap and the shuffle
    # write; their own counters are taken out of its executor time
    in_assign = [n for n in py + L.nodes(tiling_kinds, "Exchange")
                 if set(L.stages(tiling_kinds, [n])) & set(assign_stages)]
    m["tiling.assign_s"] = (L.executor_s(assign_stages)
                            - L.value(in_assign, "time to run Python workers")
                            - L.value(in_assign, "shuffle write time")) / n_ops
    m["tiling.rows_out"] = L.value(gen, "number of output rows") / n_ops

    precap = L.nodes(_ENCODE_KINDS, "MapInPandas")
    rows_in = sum(L.log.acc_total.get(a, 0)
                  for a in {n.input_rows_acc for n in precap} - {None})
    m["materialize.precap_rows_in"] = rows_in / n_ops
    m["materialize.precap_rows_out"] = L.value(precap, "number of output rows") / n_ops
    exch = L.nodes(_ENCODE_KINDS, "Exchange", "hashpartitioning(z#")
    m["materialize.exchange_bytes"] = L.value(exch, "shuffle bytes written") / n_ops
    m["materialize.exchange_records"] = L.value(exch, "shuffle records written") / n_ops
    m["materialize.exchange_write_s"] = L.value(exch, "shuffle write time") / n_ops
    m["materialize.fetch_wait_s"] = L.value(exch, "fetch wait time") / n_ops
    local_sorts = [n for n in L.nodes(_ENCODE_KINDS, "Sort") if "], false" in n.desc]
    m["materialize.sort_s"] = L.value(local_sorts, "sort time") / n_ops
    m["materialize.spill_bytes"] = L.value(L.nodes(_ENCODE_KINDS), "spill size") / n_ops

    encode = L.nodes(_ENCODE_KINDS, "MapInArrow")
    skews = []
    for s in L.stages(_ENCODE_KINDS, encode):
        t = sorted(L.log.stage_task_ms[s])
        if t and statistics.median(t) > 0:
            skews.append(t[-1] / statistics.median(t))
    m["materialize.task_skew"] = statistics.median(skews) if skews else 0.0
    tiles = run.get("tiles_encoded", 0)
    m["materialize.encode_passes"] = (L.value(encode, "number of output rows") / tiles
                                      if tiles else 0.0)
    codec = L.nodes(_PY_KINDS, "MapIn")
    m["materialize.python_s"] = L.value(codec, "time to run Python workers") / n_ops
    m["materialize.arrow_bytes_in"] = L.value(codec, "data sent to Python workers") / n_ops
    m["materialize.arrow_bytes_out"] = L.value(codec, "data returned from Python workers") / n_ops

    m["pip.candidate_rows"] = L.value(L.nodes(("pip",), "BroadcastHashJoin"),
                                      "number of output rows") / n_ops
    m["pip.python_s"] = L.value(L.nodes(("pip",), "MapIn"), "time to run Python workers") / n_ops
    cell = L.value(L.nodes(("knn",), "BroadcastHashJoin", "gx#"), "number of output rows")
    bnlj = L.value(L.nodes(("knn",), "BroadcastNestedLoopJoin"), "number of output rows")
    m["knn.candidate_pairs"] = (cell + bnlj) / n_ops
    rows = run.get("knn_rows", 0)
    m["knn.useful_pair_frac"] = rows / (cell + bnlj) if cell + bnlj else 0.0
    pts = run.get("knn_points", 0)
    m["knn.fallback_queries"] = bnlj / pts / n_ops if pts else 0.0
    win = L.nodes(("knn",), "Window") + L.nodes(("knn",), "Sort")
    m["knn.window_s"] = L.executor_s(L.stages(("knn",), win)) / n_ops

    m["delta.jobs_per_op"] = L.jobs(("delta",)) / n_ops
    m["lineage.commit_s"] = L.exec_s(("delta",), _WRITE) / n_ops
    writes = L.nodes(ops, _WRITE)
    if "build" in ops:
        # the build is one execution; its sink is the final stage that
        # runs neither the assign nor the encode (sort + parquet write)
        busy = set(assign_stages) | set(L.stages(_ENCODE_KINDS, encode))
        m["sink.write_s"] = L.executor_s(
            [s for s in L.stages(("build",)) if s not in busy]) / n_ops
    else:  # lake commits: wall time of the write executions
        m["sink.write_s"] = L.exec_s(ops, _WRITE) / n_ops
    m["sink.bytes"] = L.value(writes, "written output") / n_ops
    m["sink.files"] = L.value(writes, "number of written files") / n_ops

    all_stages = L.stages(ops)
    executor = L.executor_s(all_stages)
    m["spark.jobs_per_op"] = L.jobs(ops) / n_ops
    m["spark.stages_per_op"] = len(all_stages) / n_ops
    m["spark.tasks_per_op"] = sum(len(L.log.stage_task_ms[s]) for s in all_stages) / n_ops
    m["spark.executor_s"] = executor / n_ops
    m["spark.core_util"] = executor / (sum(run["op_walls"]) * run["cores"])
    return m
