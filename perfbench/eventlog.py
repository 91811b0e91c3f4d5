"""Per-layer metrics from an uncompressed Spark event log.

Stages are attributed to benchmark phases by the job description the
tracer sets around each call (`<span name>#<span id>`), and to layers by
plan operator: the Python stage is the one whose RDD scopes include
MapInPandas / ArrowEvalPython, writes are told apart by their target path
(`spans/` or `lineage/`), and the udfs metrics are the SQL metrics of the
Python plan nodes.
"""

from __future__ import annotations

import json
import re
import statistics
from collections import defaultdict

PYTHON_NODES = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "PythonMapInArrow")
_WRITE_RE = re.compile(r"InsertIntoHadoopFsRelationCommand\s*\n.*?Arguments: (\S+?),", re.S)


class EventLog:
    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = defaultdict(lambda: {"tasks": [], "scopes": set()})
        self.execs: dict[int, dict] = {}
        self.acc_meta: dict[int, tuple[str, str, str]] = {}  # id -> (node, name, type)
        self.acc_exec: dict[int, int] = {}
        self.acc_total: dict[int, float] = defaultdict(float)
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _plan_metrics(self, exec_id: int, node: dict) -> None:
        for m in node.get("metrics", []):
            self.acc_meta[m["accumulatorId"]] = (node["nodeName"], m["name"], m["metricType"])
            self.acc_exec[m["accumulatorId"]] = exec_id
        for c in node.get("children", []):
            self._plan_metrics(exec_id, c)

    def _event(self, e: dict) -> None:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            ex = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = {
                "desc": props.get("spark.job.description") or "",
                "exec": int(ex) if ex is not None else None,
            }
            for sid in e["Stage IDs"]:
                self.stages[sid]["job"] = e["Job ID"]
        elif ev == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = self.stages[info["Stage ID"]]
            for rdd in info.get("RDD Info", []):
                if rdd.get("Scope"):
                    st["scopes"].add(json.loads(rdd["Scope"]).get("name", ""))
        elif ev == "SparkListenerTaskEnd":
            tm = e.get("Task Metrics") or {}
            ok = (e.get("Task End Reason") or {}).get("Reason") == "Success"
            self.stages[e["Stage ID"]]["tasks"].append(
                {
                    "ok": ok,
                    "run_s": tm.get("Executor Run Time", 0) / 1000,
                    "gc_s": tm.get("JVM GC Time", 0) / 1000,
                    "spill": tm.get("Disk Bytes Spilled", 0),
                    "shuffle_w": (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    "fetch_wait_s": (tm.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0) / 1000,
                }
            )
            if ok:
                for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                    try:  # SQL metrics carry their updates as strings
                        self.acc_total[acc["ID"]] += float(acc.get("Update"))
                    except (TypeError, ValueError):
                        pass
        elif ev.endswith("SQLExecutionStart"):
            plan = e.get("physicalPlanDescription", "")
            target = _WRITE_RE.search(plan)
            self.execs[e["executionId"]] = {
                "desc": e.get("description", ""),
                "start": e["time"] / 1000,
                "end": None,
                "writes": target.group(1).rstrip("/").rsplit("/", 1)[-1] if target else None,
            }
            self._plan_metrics(e["executionId"], e["sparkPlanInfo"])
        elif ev.endswith("SQLAdaptiveExecutionUpdate"):
            self._plan_metrics(e["executionId"], e["sparkPlanInfo"])
        elif ev.endswith("SQLExecutionEnd"):
            if e["executionId"] in self.execs:
                self.execs[e["executionId"]]["end"] = e["time"] / 1000
        elif ev.endswith("DriverAccumUpdates"):
            for acc_id, value in e.get("accumUpdates", []):
                self.acc_total[acc_id] += value

    # ---------------------------------------------------------- attribution

    def execs_of(self, prefix: str) -> dict[str, list[int]]:
        """Execution ids per labelled phase whose label starts with prefix."""
        out: dict[str, list[int]] = defaultdict(list)
        for ex_id, ex in self.execs.items():
            if ex["desc"].startswith(prefix):
                out[ex["desc"]].append(ex_id)
        return out

    def stages_of(self, exec_ids) -> list[dict]:
        ids = set(exec_ids)
        return [
            st
            for st in self.stages.values()
            if "job" in st and self.jobs[st["job"]]["exec"] in ids
        ]

    def sql_metric(self, exec_ids, name: str, nodes=None) -> float:
        """Sum of one SQL metric over the plan nodes of these executions,
        in base units (seconds for timings, bytes for sizes)."""
        ids = set(exec_ids)
        total = 0.0
        for acc, (node, mname, mtype) in self.acc_meta.items():
            if mname != name or self.acc_exec[acc] not in ids:
                continue
            if nodes and not any(node.startswith(n) for n in nodes):
                continue
            v = self.acc_total.get(acc, 0.0)
            total += v / 1e9 if mtype == "nsTiming" else v / 1e3 if mtype == "timing" else v
        return total


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def layer_metrics(log: EventLog, prefix: str) -> dict[str, float]:
    """Per-layer metrics of the phases labelled `prefix*`, as the median
    over those phases (one phase = one timed repetition)."""
    per_rep: dict[str, list[float]] = defaultdict(list)
    for _, ex_ids in sorted(log.execs_of(prefix).items()):
        stages = log.stages_of(ex_ids)
        tasks = [t for st in stages for t in st["tasks"]]
        py = [st for st in stages if st["scopes"] & set(PYTHON_NODES)]
        main = max(py, key=lambda st: sum(t["run_s"] for t in st["tasks"]), default=None)
        runs = sorted(t["run_s"] for t in main["tasks"]) if main else []
        writes = defaultdict(list)
        for ex_id in ex_ids:
            ex = log.execs[ex_id]
            if ex["writes"] and ex["end"] is not None:
                writes[ex["writes"]].append(ex_id)
        dur = lambda ids: sum(log.execs[i]["end"] - log.execs[i]["start"] for i in ids)  # noqa: E731
        all_writes = writes["spans"] + writes["lineage"]
        vals = {
            "pipeline.shuffle_bytes": sum(t["shuffle_w"] for t in tasks),
            "pipeline.fetch_wait_s": sum(t["fetch_wait_s"] for t in tasks),
            "pipeline.max_task_s": runs[-1] if runs else 0.0,
            "pipeline.task_skew": runs[-1] / _median(runs) if runs and _median(runs) > 0 else 0.0,
            "pipeline.write_s": dur(writes["spans"]),
            "pipeline.commit_s": dur(writes["lineage"]),
            "pipeline.output_files": log.sql_metric(all_writes, "number of written files"),
            "pipeline.output_bytes": log.sql_metric(all_writes, "written output"),
            "udfs.py_start_s": log.sql_metric(ex_ids, "time to start Python workers", PYTHON_NODES),
            "udfs.py_run_s": log.sql_metric(ex_ids, "time to run Python workers", PYTHON_NODES),
            "udfs.bytes_to_py": log.sql_metric(ex_ids, "data sent to Python workers", PYTHON_NODES),
            "udfs.bytes_from_py": log.sql_metric(ex_ids, "data returned from Python workers", PYTHON_NODES),
            "spark.gc_s": sum(t["gc_s"] for t in tasks),
            "spark.spill_bytes": sum(t["spill"] for t in tasks),
            "spark.tasks_failed": sum(1 for t in tasks if not t["ok"]),
        }
        for k, v in vals.items():
            per_rep[k].append(v)
    return {k: _median(v) for k, v in per_rep.items()}
