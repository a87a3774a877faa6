"""Per-module cost ledger read from Spark's own SQL status store.

A ``noop`` or parquet write runs its own SQL execution, so the metrics of
``df._jdf.queryExecution()`` stay at zero; the status store
(``sharedState().statusStore()``) holds the executed plan graph and the
aggregated metric strings of every execution instead. Task durations come
from the application status store. Both are filled by listeners that run
behind the action, so the reader waits until each execution is complete.
"""

from __future__ import annotations

import re
import statistics
import time

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*(B|KiB|MiB|GiB|TiB|ms|s|m|h)?"
_BREAKDOWN = re.compile(
    rf"^\s*{_VALUE}\s*\(\s*{_VALUE}\s*,\s*{_VALUE}\s*,\s*{_VALUE}\s*"
    r"\(stage\s+(\d+)\.\d+:\s*task\s+(\d+)\)\s*\)\s*$"
)
_SINGLE = re.compile(rf"^\s*{_VALUE}\s*$")


def _num(digits: str, unit: str | None) -> float:
    return float(digits.replace(",", "")) * _UNITS.get(unit or "", 1.0)


def parse_metric(text: str) -> dict:
    """Parse one formatted SQL metric value into seconds / bytes / counts.

    Accepts a plain value (``1,000``, ``13 ms``, ``11.4 MiB``) or the
    per-task form ``total (min, med, max (stageId: taskId))`` whose header
    line may precede the values. Returns total, and min/med/max plus the
    stage of the max task when the breakdown is present."""
    line = text.strip().splitlines()[-1]
    m = _BREAKDOWN.match(line)
    if m:
        g = m.groups()
        return {"total": _num(g[0], g[1]), "min": _num(g[2], g[3]),
                "med": _num(g[4], g[5]), "max": _num(g[6], g[7]),
                "stage": int(g[8])}
    m = _SINGLE.match(line)
    if not m:
        raise ValueError(f"unparsed SQL metric value: {text!r}")
    v = _num(m.group(1), m.group(2))
    return {"total": v, "min": v, "med": v, "max": v, "stage": None}


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class StatusReader:
    """Reads executions, plan graphs and task durations of one session."""

    def __init__(self, spark):
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.app = spark.sparkContext._jsc.sc().statusStore()

    def last_execution_id(self) -> int:
        ex = _seq(self.sql.executionsList())
        return max((e.executionId() for e in ex), default=-1)

    def executions_after(self, eid: int, timeout: float = 30.0) -> list[int]:
        """Ids of executions started after ``eid``, once all are complete."""
        deadline = time.monotonic() + timeout
        while True:
            ex = [e for e in _seq(self.sql.executionsList()) if e.executionId() > eid]
            if all(e.completionTime().isDefined() for e in ex) or time.monotonic() > deadline:
                return sorted(e.executionId() for e in ex)
            time.sleep(0.05)

    def plan(self, eid: int) -> list[dict]:
        """Nodes of the final plan: id, name, children ids, metrics by name."""
        graph = self.sql.planGraph(eid)
        values = self.sql.executionMetrics(eid)
        children: dict[int, list[int]] = {}
        for e in _seq(graph.edges()):
            children.setdefault(e.toId(), []).append(e.fromId())
        nodes = []
        for nd in _seq(graph.allNodes()):
            if nd.getClass().getSimpleName() == "SparkPlanGraphCluster":
                continue  # codegen cluster: its members are listed on their own
            metrics = {}
            for pm in _seq(nd.metrics()):
                v = values.get(pm.accumulatorId())
                if v.isDefined():
                    metrics[pm.name()] = parse_metric(v.get())
            nodes.append({"id": nd.id(), "name": nd.name().strip(),
                          "children": children.get(nd.id(), []), "metrics": metrics})
        return nodes

    def task_seconds(self, stage_id: int, timeout: float = 10.0) -> list[float]:
        """Durations of the successful tasks of the latest attempt of a stage."""
        deadline = time.monotonic() + timeout
        while True:
            st = self.app.lastStageAttempt(stage_id)
            tasks = _seq(self.app.taskList(stage_id, st.attemptId(), 1 << 20))
            done = [t for t in tasks if t.status() == "SUCCESS" and t.duration().isDefined()]
            if len(done) >= st.numCompleteTasks() or time.monotonic() > deadline:
                return [t.duration().get() / 1000.0 for t in done]
            time.sleep(0.05)


def _subtree(nodes: list[dict], root: dict) -> list[dict]:
    by_id = {n["id"]: n for n in nodes}
    out, todo = [], list(root["children"])
    while todo:
        n = by_id.get(todo.pop())
        if n is not None:
            out.append(n)
            todo.extend(n["children"])
    return out


def _total(node: dict, name: str) -> float:
    m = node["metrics"].get(name)
    return m["total"] if m else 0.0


def extract_ledger(reader: StatusReader, eids: list[int]) -> dict:
    """Sum the extraction operators over executions: every ``MapInArrow``
    node and the scan, exchange and sort beneath it (down to the scan of
    the input). Executions or subtrees that never ran contribute zeros."""
    led = dict.fromkeys((
        "scan_s", "scan_rows", "exchange_bytes_written", "exchange_write_s",
        "exchange_fetch_wait_s", "sort_s", "sort_spill_bytes",
        "python_boot_s", "python_init_s", "python_run_s", "bytes_to_python",
        "bytes_from_python", "rows_in", "rows_out"), 0.0)
    led["sort_peak_mb"] = 0.0
    stages = set()
    for eid in eids:
        nodes = reader.plan(eid)
        for arrow in (n for n in nodes if n["name"] == "MapInArrow"):
            if _total(arrow, "number of output rows") == 0 and not any(
                    m["total"] for m in arrow["metrics"].values()):
                continue  # plan of a cached relation that was read, not run
            mm = arrow["metrics"]
            led["python_boot_s"] += _total(arrow, "time to start Python workers")
            led["python_init_s"] += _total(arrow, "time to initialize Python workers")
            led["python_run_s"] += _total(arrow, "time to run Python workers")
            led["bytes_to_python"] += _total(arrow, "data sent to Python workers")
            led["bytes_from_python"] += _total(arrow, "data returned from Python workers")
            led["rows_out"] += _total(arrow, "number of output rows")
            run = mm.get("time to run Python workers")
            if run and run["stage"] is not None:
                stages.add(run["stage"])
            for n in _subtree(nodes, arrow):
                if n["name"] == "Exchange":
                    led["exchange_bytes_written"] += _total(n, "shuffle bytes written")
                    led["exchange_write_s"] += _total(n, "shuffle write time")
                    led["exchange_fetch_wait_s"] += _total(n, "fetch wait time")
                    led["rows_in"] += _total(n, "records read")
                elif n["name"] == "Sort":
                    led["sort_s"] += _total(n, "sort time")
                    led["sort_spill_bytes"] += _total(n, "spill size")
                    peak = n["metrics"].get("peak memory")
                    if peak:
                        led["sort_peak_mb"] = max(led["sort_peak_mb"], peak["max"] / 1e6)
                elif n["name"].startswith("Scan"):
                    led["scan_s"] += _total(n, "scan time")
                    led["scan_rows"] += _total(n, "number of output rows")
    led["keep_ratio"] = led["rows_out"] / led["rows_in"] if led["rows_in"] else 0.0
    tasks = [t for s in sorted(stages) for t in reader.task_seconds(s)]
    led["task_s_max"] = max(tasks, default=0.0)
    led["task_s_median"] = statistics.median(tasks) if tasks else 0.0
    led["task_skew"] = led["task_s_max"] / led["task_s_median"] if tasks else 0.0
    return led


def write_ledger(reader: StatusReader, eids: list[int]) -> dict:
    """Scans and file writes over executions (the job path's I/O)."""
    out = {"scan_rows": 0.0, "write_bytes": 0.0, "files_written": 0.0}
    for eid in eids:
        for n in reader.plan(eid):
            if n["name"].startswith("Scan parquet"):
                out["scan_rows"] += _total(n, "number of output rows")
            elif n["name"].startswith("Execute InsertIntoHadoopFsRelationCommand"):
                out["write_bytes"] += _total(n, "written output")
                out["files_written"] += _total(n, "number of written files")
    return out
