"""Parse an uncompressed Spark event log into per-(layer, pass) counters.

Jobs are attributed through their ``spark.jobGroup.id`` (``<layer>#<pass>``,
set by ``spans.Tracer``); stages inherit their job's group and tasks their
stage's. Task metrics give CPU, GC, spill, shuffle and I/O bytes; the SQL
accumulables give the Python-worker time and the Arrow bytes each way. Rows
entering a Python node are read from the row metrics of its nearest
descendants.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

from perfbench.spans import parse_group

PYTHON_NODES = ("MapInPandas", "MapInArrow", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "ArrowEvalPython", "BatchEvalPython")
#: plan nodes that pass every input row through unchanged
_ROW_PASSTHROUGH = (
    "WholeStageCodegen", "InputAdapter", "Project", "ColumnarToRow", "AQEShuffleRead", "Sort",
    "ShuffleQueryStage", "TableCacheQueryStage", "Union",
)


@dataclass
class Counters:
    jobs: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    spill_bytes: float = 0.0
    shuffle_write_bytes: float = 0.0
    bytes_read: float = 0.0
    py_run_ms: float = 0.0
    py_bytes_sent: float = 0.0
    py_bytes_returned: float = 0.0
    py_rows_in: float = 0.0
    #: stage id → task run times (ms), for skew
    stage_tasks: dict[int, list[float]] = field(default_factory=lambda: defaultdict(list))


def _python_input_accums(plan: dict, out: set[int]) -> None:
    """Collect the accumulator ids counting rows into each Python node: per
    input branch, the nearest ``number of output rows`` or, across a
    shuffle, the exchange's ``records read``."""

    def rows_metric(node: dict) -> int | None:
        wanted = "records read" if node["nodeName"].startswith("Exchange") else "number of output rows"
        for m in node.get("metrics", []):
            if m["name"] == wanted:
                return m["accumulatorId"]
        return None

    def rows_below(node: dict) -> None:
        for child in node.get("children", []):
            acc = rows_metric(child)
            if acc is not None:
                out.add(acc)
            elif child["nodeName"].startswith(_ROW_PASSTHROUGH):
                rows_below(child)

    if plan["nodeName"].startswith(PYTHON_NODES):
        rows_below(plan)
    for child in plan.get("children", []):
        _python_input_accums(child, out)


def parse(path: str) -> dict[tuple[str, int], Counters]:
    stage_group: dict[int, tuple[str, int]] = {}
    rows_in_accums: set[int] = set()
    out: dict[tuple[str, int], Counters] = defaultdict(Counters)
    with open(path) as f:
        events = [json.loads(line) for line in f]
    # plans first: AQE may register a node's accumulators after tasks that
    # report them have been logged
    for e in events:
        if e["Event"].endswith(("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")):
            _python_input_accums(e["sparkPlanInfo"], rows_in_accums)
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            g = parse_group((e.get("Properties") or {}).get("spark.jobGroup.id"))
            if g is None:
                continue
            out[g].jobs += 1
            for sid in e["Stage IDs"]:
                stage_group[sid] = g
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(e["Stage ID"])
            tm = e.get("Task Metrics")
            if g is None or not tm:
                continue
            c = out[g]
            c.tasks += 1
            c.run_ms += tm["Executor Run Time"]
            c.cpu_ns += tm["Executor CPU Time"]
            c.gc_ms += tm["JVM GC Time"]
            c.spill_bytes += tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]
            c.shuffle_write_bytes += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            c.bytes_read += tm["Input Metrics"]["Bytes Read"]
            c.stage_tasks[e["Stage ID"]].append(float(tm["Executor Run Time"]))
            for a in e["Task Info"].get("Accumulables", []):
                upd = a.get("Update")
                if upd is None:
                    continue
                name = a.get("Name")
                if name == "time to run Python workers":
                    c.py_run_ms += float(upd)
                elif name == "data sent to Python workers":
                    c.py_bytes_sent += float(upd)
                elif name == "data returned from Python workers":
                    c.py_bytes_returned += float(upd)
                elif a.get("ID") in rows_in_accums:
                    c.py_rows_in += float(upd)
    return dict(out)
