"""Roll a Spark event log up into per-request layer metrics.

The traced session tags every request's jobs with a job group
(``SparkContext.setJobGroup``). From the log this module reads:

* the physical plans of every SQL execution (the start event and every
  AQE update, so the executed query stages are included) with each
  operator's SQL-metric accumulator ids;
* the accumulator updates posted by tasks and by the driver;
* the task metrics of every task, attributed through stage -> job ->
  job group.

Per request it then sums operator metrics by layer: parquet scans,
Python-boundary nodes (MapInArrow/MapInPandas/... as "sources", the
ArrowEvalPython refine UDF separately), shuffle exchanges, broadcasts,
final hash aggregates and the PIP candidate/refine rows. Python worker
start and init times are deliberately not read: under worker reuse they
include idle wait. Operator times inside one pipelined stage are
inclusive of the work feeding them; the refine's Python time therefore
has the decode kernel's Python time below it subtracted.
"""

from __future__ import annotations

import json
from collections import defaultdict

# operator name -> accumulator values use these units
_SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1.0, "sum": 1.0, "average": 1.0}
_PY_EVAL = ("ArrowEvalPython", "BatchEvalPython")
_PASS_THROUGH = ("Project", "InputAdapter", "WholeStageCodegen", "AQEShuffleRead",
                 "ShuffleQueryStage", "ColumnarToRow", "Sort", "CollectLimit", "Coalesce")


class _Node:
    __slots__ = ("name", "desc", "metrics", "children")

    def __init__(self, info: dict):
        self.name = info["nodeName"]
        self.desc = info.get("simpleString", "")
        self.metrics = {m["name"]: (m["accumulatorId"], m["metricType"]) for m in info["metrics"]}
        self.children = [_Node(c) for c in info["children"]]

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()


def _value(acc: dict, node: _Node, metric: str) -> float:
    if metric not in node.metrics:
        return 0.0
    acc_id, mtype = node.metrics[metric]
    return acc.get(acc_id, 0.0) * _SCALE.get(mtype, 1.0)


def _is_python(node: _Node) -> bool:
    return "data sent to Python workers" in node.metrics


def _rows_out(acc: dict, node: _Node) -> float | None:
    for m in ("number of output rows", "records read"):
        if m in node.metrics:
            return _value(acc, node, m)
    return None


def _rows_in(acc: dict, node: _Node) -> float:
    """Rows entering a unary operator: the output rows of the nearest
    descendant that counts them, looking through row-preserving wrappers."""
    child = node.children[0] if len(node.children) == 1 else None
    while child is not None:
        rows = _rows_out(acc, child)
        if rows is not None:
            return rows
        if not child.name.startswith(_PASS_THROUGH) or len(child.children) != 1:
            return 0.0
        child = child.children[0]
    return 0.0


def _below(node: _Node, names: tuple) -> bool:
    """True if a row-preserving chain under ``node`` reaches one of ``names``."""
    child = node.children[0] if len(node.children) == 1 else None
    while child is not None:
        if child.name.startswith(names):
            return True
        if not child.name.startswith(_PASS_THROUGH) or len(child.children) != 1:
            return False
        child = child.children[0]
    return False


def parse(path: str) -> dict:
    """Per job group: operator sums, task sums and job count."""
    plans: dict[int, list[_Node]] = defaultdict(list)
    exec_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    acc: dict[int, float] = defaultdict(float)
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                plans[int(e["executionId"])].append(_Node(e["sparkPlanInfo"]))
            elif ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                g = props.get("spark.jobGroup.id")
                if g is None:
                    continue
                groups[g]["jobs"] += 1
                for sid in e["Stage IDs"]:
                    stage_group[sid] = g
                if props.get("spark.sql.execution.id") is not None:
                    exec_group[int(props["spark.sql.execution.id"])] = g
            elif ev == "SparkListenerTaskEnd":
                info = e["Task Info"]
                for a in info.get("Accumulables", []):
                    if a.get("Metadata") == "sql" and "Update" in a:
                        acc[a["ID"]] += float(a["Update"])
                g = stage_group.get(e["Stage ID"])
                tm = e.get("Task Metrics")
                if g is None or not tm:
                    continue
                t = groups[g]
                t["tasks.count"] += 1
                t["tasks.run_s"] += tm["Executor Run Time"] / 1e3
                t["tasks.cpu_s"] += tm["Executor CPU Time"] / 1e9
                t["tasks.gc_s"] += tm["JVM GC Time"] / 1e3
            elif ev.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, v in e["accumUpdates"]:
                    acc[acc_id] += float(v)
    for eid, trees in plans.items():
        g = exec_group.get(eid)
        if g is not None:
            _rollup_execution(trees, acc, groups[g])
    return {g: dict(v) for g, v in groups.items()}


def _rollup_execution(trees: list[_Node], acc: dict, out: dict) -> None:
    # The same operator appears in the start plan and every AQE update;
    # count each accumulator set once, from the last plan that holds it.
    seen: set = set()
    for tree in reversed(trees):
        for n in tree.walk():
            key = tuple(sorted(a for a, _ in n.metrics.values()))
            if not key or key in seen:
                continue
            seen.add(key)
            _add_node(n, acc, out)


def _add_node(n: _Node, acc: dict, out: dict) -> None:
    name = n.name
    if name.startswith("Scan parquet"):
        out["scan.rows"] += _value(acc, n, "number of output rows")
        out["sources.scan_bytes"] += _value(acc, n, "size of files read")
        out["sources.scan_s"] += _value(acc, n, "scan time")
    elif _is_python(n) and name.startswith(_PY_EVAL):
        # the runner's time covers pipelined upstream work; take the
        # Python nodes below it (the decode kernel) back out
        below = sum(_value(acc, d, "time to run Python workers")
                    for c in n.children for d in c.walk() if _is_python(d))
        out["pip.refine_python_s"] += _value(acc, n, "time to run Python workers") - below
    elif _is_python(n):
        out["python.rows_out"] += _value(acc, n, "number of output rows")
        out["sources.rows_to_python"] += _rows_in(acc, n)
        out["sources.bytes_to_python"] += _value(acc, n, "data sent to Python workers")
        out["sources.bytes_from_python"] += _value(acc, n, "data returned from Python workers")
        out["sources.python_s"] += _value(acc, n, "time to run Python workers")
    elif name == "Exchange":
        if _value(acc, n, "shuffle records written") > 0:
            out["exchange.count"] += 1
        out["exchange.shuffle_bytes"] += _value(acc, n, "shuffle bytes written")
        out["exchange.shuffle_write_s"] += _value(acc, n, "shuffle write time")
        out["exchange.fetch_wait_s"] += _value(acc, n, "fetch wait time")
    elif name == "BroadcastExchange":
        out["broadcast.rows"] += _value(acc, n, "number of output rows")
    elif name.startswith("HashAggregate") and _below(n, ("Exchange", "ShuffleQueryStage")):
        # final aggregates only: a partial aggregate's build time includes
        # the whole codegen'd pipeline feeding it
        out["agg.s"] += _value(acc, n, "time in aggregation build")
    elif name == "BroadcastHashJoin" and ", Inner," in n.desc:
        out["join.inner_rows"] += _value(acc, n, "number of output rows")
    elif name == "Filter" and _below(n, _PY_EVAL):
        out["refine.rows"] += _value(acc, n, "number of output rows")
