"""Per-layer readings taken from outside the engine.

Nothing here reaches into ``pgsql2osm_spark``: the readings come from the
Spark event log (task metrics and SQL plan metrics, keyed by the job
description the benchmark sets around each call), from a wrapper around the
py4j client in the benchmark's own process, from the JVM log file and from
``/proc``.
"""

from __future__ import annotations

import glob
import json
import os
import threading
from collections import Counter, defaultdict
from dataclasses import dataclass

PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "FlatMapGroupsInPandas")
# plan nodes that pass rows straight through to their single child
_PASSTHROUGH = ("Project", "InputAdapter", "ColumnarToRow", "AQEShuffleRead")
_ROWS = "number of output rows"
TASK_FIELDS = (
    "tasks", "task_s", "task_cpu_s", "gc_s", "task_wait_s",
    "shuffle_write_bytes", "spill_bytes", "records_read",
)


def read_event_log(log_dir: str) -> list[dict]:
    """All events under ``log_dir``, in file order.

    Handles both layouts Spark writes: one plain file per application and
    the rolling ``eventlog_v2_<app>/events_<n>_<app>`` directories."""
    def order(path: str):
        base = os.path.basename(path)
        if base.startswith("events_"):
            return (os.path.dirname(path), int(base.split("_")[1]))
        return (path, 0)

    files = [
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p)
        and not os.path.basename(p).startswith((".", "appstatus"))
    ]
    events = []
    for path in sorted(files, key=order):
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def fold_tasks(events: list[dict]) -> tuple[dict[str, dict[str, float]], Counter]:
    """``SparkListenerTaskEnd`` records summed per job description.

    Returns (metrics by description, job count by description). Times are in
    seconds; ``task_wait_s`` is the time from stage submission to task
    launch."""
    stage_desc: dict[int, str] = {}
    submitted: dict[tuple[int, int], int] = {}
    jobs: Counter = Counter()
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(TASK_FIELDS, 0.0))
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get("spark.job.description") or ""
            jobs[desc] += 1
            for s in e["Stage IDs"]:
                stage_desc[s] = desc
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            submitted[(info["Stage ID"], info["Stage Attempt ID"])] = info.get("Submission Time")
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            acc = out[stage_desc.get(e["Stage ID"], "")]
            acc["tasks"] += 1
            acc["task_s"] += m.get("Executor Run Time", 0) / 1e3
            acc["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sub = submitted.get((e["Stage ID"], e["Stage Attempt ID"]))
            if sub is not None:
                acc["task_wait_s"] += max(0, e["Task Info"]["Launch Time"] - sub) / 1e3
            acc["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            acc["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            acc["records_read"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
    return dict(out), jobs


def _source(node: dict) -> dict | None:
    """The node whose rows ``node`` consumes on its first input, looking
    through pass-through nodes."""
    node = node["children"][0] if node["children"] else None
    while node is not None and (
        node["nodeName"] in _PASSTHROUGH or node["nodeName"].startswith("WholeStageCodegen")
    ):
        node = node["children"][0] if node["children"] else None
    return node


def _walk(node: dict):
    yield node
    for c in node["children"]:
        yield from _walk(c)


def _rows_acc(node: dict):
    for m in node["metrics"]:
        if m["name"] == _ROWS:
            return m["accumulatorId"]
    return None


def _index_pip_nodes(plan: dict, roles: dict[int, str]) -> None:
    """Map row-count accumulators of the PIP join's plan nodes to roles.

    probe: the Generate (explode over cover resolutions); candidate: the
    BroadcastHashJoin fed by it; python: the ArrowEvalPython refine; kept:
    the Filter fed by the refine."""
    for node in _walk(plan):
        name = node["nodeName"]
        child = _source(node)
        child_name = child["nodeName"] if child else ""
        role = None
        if name == "Generate":
            role = "probe_rows"
        elif name == "BroadcastHashJoin" and child_name == "Generate":
            role = "candidates"
        elif name == "ArrowEvalPython":
            role = "python_rows"
        elif name == "Filter" and child_name == "ArrowEvalPython":
            role = "kept"
        acc = _rows_acc(node) if role else None
        if acc is not None:
            roles[acc] = role


def fold_plans(events: list[dict]) -> tuple[dict[str, Counter], Counter]:
    """SQL plan metrics per job description.

    Returns (PIP-join row counts by description, Python plan nodes by
    description). Row counts sum the task and driver updates of every
    accumulator a plan version registered; accumulators of plan versions AQE
    replaced receive no updates, so nothing is counted twice. Python nodes
    are counted in the last plan version of each SQL execution."""
    roles: dict[int, str] = {}
    acc_exec: dict[int, int] = {}
    exec_desc: dict[int, str] = {}
    last_plan: dict[int, dict] = {}
    updates: Counter = Counter()
    for e in events:
        kind = e["Event"]
        if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            xid = e["executionId"]
            if kind.endswith("SQLExecutionStart"):
                exec_desc[xid] = e.get("description") or ""
            plan = e["sparkPlanInfo"]
            last_plan[xid] = plan
            before = set(roles)
            _index_pip_nodes(plan, roles)
            for acc in set(roles) - before:
                acc_exec[acc] = xid
        elif kind == "SparkListenerTaskEnd":
            for a in e["Task Info"].get("Accumulables", []):
                if a.get("Metadata") == "sql" and a["ID"] in roles:
                    updates[a["ID"]] += int(a["Update"])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc, value in e["accumUpdates"]:
                if acc in roles:
                    updates[acc] += int(value)
    rows: dict[str, Counter] = defaultdict(Counter)
    for acc, n in updates.items():
        rows[exec_desc.get(acc_exec[acc], "")][roles[acc]] += n
    python_nodes: Counter = Counter()
    for xid, plan in last_plan.items():
        python_nodes[exec_desc.get(xid, "")] += sum(
            1 for n in _walk(plan) if n["nodeName"] in PYTHON_NODES
        )
    return dict(rows), python_nodes


def scan_passes(records_read: float, input_rows: int) -> float:
    """How many times a call read its whole input: records read / input rows."""
    if input_rows <= 0:
        raise ValueError(f"input_rows must be positive, got {input_rows}")
    return records_read / input_rows


def count_codegen_fallbacks(log_path: str) -> int:
    """Lines of the JVM log that report a generated class failing to compile."""
    if not os.path.exists(log_path):
        return 0
    with open(log_path, errors="replace") as f:
        return sum(1 for line in f if "failed to compile" in line.lower())


class Py4JCounter:
    """Counts the commands sent over one py4j gateway client while active.

    Every Java proxy object calls ``send_command`` on the shared client, so
    shadowing that method on the instance sees all of them; leaving the
    block removes the shadow again."""

    def __init__(self, client):
        self.client = client
        self.calls = 0

    def __enter__(self):
        send = self.client.send_command

        def counting(*args, **kwargs):
            self.calls += 1
            return send(*args, **kwargs)

        self.client.send_command = counting
        return self

    def __exit__(self, *exc):
        del self.client.send_command
        return False


def _process_tree(root: int) -> list[int]:
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                # the command name may hold spaces: fields resume after ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(entry))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class PeakRss:
    """Samples the summed resident memory of this process and all its
    descendants (the JVM and its Python workers) and keeps the peak."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def sample(self) -> None:
        total = sum(_rss_bytes(p) for p in _process_tree(os.getpid()))
        self.peak_bytes = max(self.peak_bytes, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()
        return False


@dataclass
class Fold:
    """Everything the benchmark reads from one event log, by job description."""

    tasks: dict[str, dict[str, float]]
    jobs: Counter
    rows: dict[str, Counter]
    python_nodes: Counter

    @classmethod
    def from_events(cls, events: list[dict]) -> "Fold":
        tasks, jobs = fold_tasks(events)
        rows, python_nodes = fold_plans(events)
        return cls(tasks, jobs, rows, python_nodes)

    def task_totals(self, desc: str) -> dict[str, float]:
        """Task metrics summed over ``desc`` and its ``desc:<part>`` children."""
        out = dict.fromkeys(TASK_FIELDS, 0.0)
        for d, acc in self.tasks.items():
            if d == desc or d.startswith(desc + ":"):
                for k, v in acc.items():
                    out[k] += v
        return out
