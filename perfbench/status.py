"""Spark status-store collector (the Spark UI REST API on localhost)
and a parser for Spark's SQL-metric strings.

The collector reads ``{uiWebUrl}/api/v1/applications/{appId}/...``: SQL
executions with their plan nodes and metric strings, stages with their task
time, shuffle and spill, and per-stage task-duration quantiles.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from dataclasses import dataclass

_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0}
_SIZE_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40, "PiB": 2**50,
}
_VALUE = r"(-?[\d,]+(?:\.\d+)?)\s*(ms|s|min|h|B|KiB|MiB|GiB|TiB|PiB)?"
_AGG = re.compile(
    r"^total \(min, med, max \(stageId: taskId\)\)\s*\n\s*"
    + _VALUE + r"\s*\(" + _VALUE + r",\s*" + _VALUE + r",\s*" + _VALUE
    + r"\s*\(stage (\d+)\.(\d+): task (\d+)\)\)\s*$"
)
_SINGLE = re.compile(r"^" + _VALUE + r"$")


@dataclass(frozen=True)
class SqlMetric:
    """One parsed SQL metric, in base units (seconds, bytes or a count)."""

    total: float
    min: float | None = None
    med: float | None = None
    max: float | None = None
    stage_id: int | None = None
    stage_attempt: int | None = None
    task_id: int | None = None
    kind: str = "count"  # "time", "size" or "count"


def _number(num: str, unit: str | None) -> tuple[float, str]:
    value = float(num.replace(",", ""))
    if unit in _TIME_UNITS:
        return value * _TIME_UNITS[unit], "time"
    if unit in _SIZE_UNITS:
        return value * _SIZE_UNITS[unit], "size"
    return value, "count"


def parse_metric(text: str) -> SqlMetric:
    """Parse a metric value as the status store renders it, e.g.
    ``"total (min, med, max (stageId: taskId))\\n15.2 s (3.1 s, 4.2 s,
    4.3 s (stage 10.0: task 21))"``, ``"1834.0 KiB"`` or ``"5,000"``.
    Raises ValueError on anything else, so a format change fails loudly."""
    text = text.strip()
    m = _AGG.match(text)
    if m:
        g = m.groups()
        total, kind = _number(g[0], g[1])
        lo, _ = _number(g[2], g[3])
        med, _ = _number(g[4], g[5])
        hi, _ = _number(g[6], g[7])
        return SqlMetric(total, lo, med, hi, int(g[8]), int(g[9]), int(g[10]), kind)
    m = _SINGLE.match(text)
    if m:
        total, kind = _number(m.group(1), m.group(2))
        return SqlMetric(total, kind=kind)
    raise ValueError(f"unparseable Spark SQL metric: {text!r}")


class StatusStore:
    """Read-only client for one application's status store."""

    def __init__(self, ui_url: str, app_id: str, timeout_s: float = 10.0):
        if not ui_url.startswith(("http://localhost", "http://127.0.0.1")):
            raise ValueError(f"status store must be on localhost, got {ui_url!r}")
        self.base = f"{ui_url}/api/v1/applications/{app_id}"
        self.timeout_s = timeout_s

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=self.timeout_s) as r:
            return json.load(r)

    def jobs(self) -> list[dict]:
        return self.get("/jobs")

    def executions(self) -> list[dict]:
        return self.get("/sql?details=true&planDescription=true&length=100000")

    def stages(self) -> list[dict]:
        return self.get("/stages")

    def task_quantiles(self, stage_id: int, attempt: int) -> dict:
        return self.get(
            f"/stages/{stage_id}/{attempt}/taskSummary?quantiles=0.5,1.0"
        )

    def wait_settled(self, group: str, timeout_s: float = 30.0) -> None:
        """Block until every job of `group` and every SQL execution has
        finished in the store (the listener bus applies events
        asynchronously), or raise TimeoutError."""
        deadline = time.monotonic() + timeout_s
        while True:
            jobs = [j for j in self.jobs() if j.get("jobGroup") == group]
            execs = self.executions()
            if jobs and all(j["status"] in ("SUCCEEDED", "FAILED") for j in jobs) and all(
                e["status"] in ("COMPLETED", "FAILED") for e in execs
            ):
                return
            if time.monotonic() > deadline:
                raise TimeoutError(f"status store did not settle for group {group!r}")
            time.sleep(0.2)

    def group_view(self, group: str) -> "GroupView":
        jobs = [j for j in self.jobs() if j.get("jobGroup") == group]
        job_ids = {j["jobId"] for j in jobs}
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        execs = [
            e for e in self.executions()
            if job_ids & set(e["successJobIds"] + e["failedJobIds"] + e["runningJobIds"])
        ]
        stages = [s for s in self.stages() if s["stageId"] in stage_ids]
        return GroupView(self, jobs, execs, stages)


@dataclass
class GroupView:
    """The jobs, SQL executions and stages of one job group."""

    store: StatusStore
    jobs: list[dict]
    executions: list[dict]
    stages: list[dict]

    def completed_stages(self) -> list[dict]:
        return [s for s in self.stages if s["status"] == "COMPLETE"]

    def stage_totals(self) -> dict:
        done = self.completed_stages()
        return {
            "task_s": sum(s["executorRunTime"] for s in done) / 1e3,
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in done),
            "spill_bytes": sum(
                s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in done
            ),
            "stages": len(done),
        }

    def stage(self, stage_id: int, attempt: int) -> dict:
        for s in self.stages:
            if s["stageId"] == stage_id and s["attemptId"] == attempt:
                return s
        raise KeyError(f"stage {stage_id}.{attempt} not in this group")

    def python_nodes(self, udf_name: str) -> list[dict[str, SqlMetric]]:
        """Parsed metrics of every MapInPandas operator of the group, which
        must all run the Python function `udf_name` (a group that mixes
        Python functions cannot be split per function and raises).
        Operators a cached plan shows more than once are counted once."""
        out, seen = [], set()
        for e in self.executions:
            nodes = [n for n in e["nodes"] if n["nodeName"] == "MapInPandas"]
            if not nodes:
                continue
            names = set(plan_udfs(e.get("planDescription", "")))
            if names != {udf_name}:
                raise LookupError(
                    f"execution {e['id']} runs {sorted(names)}, not only {udf_name}"
                )
            for node in nodes:
                key = tuple((m["name"], m["value"]) for m in node["metrics"])
                if key in seen:
                    continue
                seen.add(key)
                out.append({m["name"]: parse_metric(m["value"]) for m in node["metrics"]})
        return out

    def max_join_output_rows(self, execution: dict) -> int:
        rows = 0
        for node in execution["nodes"]:
            if "Join" in node["nodeName"]:
                for m in node["metrics"]:
                    if m["name"] == "number of output rows":
                        rows = max(rows, int(parse_metric(m["value"]).total))
        return rows


def plan_udfs(plan: str) -> list[str]:
    """Python function names of the MapInPandas operators in a formatted
    plan (one "(N) MapInPandas" block per operator, whose Arguments line
    names the function)."""
    return re.findall(
        r"^\(\d+\) MapInPandas\n(?:.*\n)*?Arguments: (\w+)\(", plan, re.M
    )


def python_node_summary(view: GroupView, udf_name: str, slots: int) -> dict:
    """Python-boundary split of the (single) MapInPandas stage running
    `udf_name`: busy/init seconds, Arrow bytes each way, task time outside
    Python, slot occupancy and task skew."""
    nodes = view.python_nodes(udf_name)
    if not nodes:
        raise LookupError(f"no MapInPandas node running {udf_name}")
    busy = init = sent = back = jvm = 0.0
    skews, occupancy = [], []
    for m in nodes:
        run = m["time to run Python workers"]
        busy += run.total
        init += m["time to initialize Python workers"].total
        sent += m["data sent to Python workers"].total
        back += m["data returned from Python workers"].total
        stage = view.stage(run.stage_id, run.stage_attempt)
        jvm += stage["executorRunTime"] / 1e3 - run.total
        q = view.store.task_quantiles(run.stage_id, run.stage_attempt)
        med, mx = q["duration"]
        skews.append(mx / med if med > 0 else 1.0)
        wall = _stage_wall_s(stage)
        used = max(1, min(stage["numTasks"], slots))
        occupancy.append(run.total / (wall * used) if wall > 0 else 0.0)
    return {
        "py_busy_s": busy,
        "py_init_s": init,
        "arrow_in_mb": sent / 2**20,
        "arrow_out_mb": back / 2**20,
        "jvm_s": jvm,
        "slot_occupancy": max(occupancy),
        "task_skew": max(skews),
    }


def _stage_wall_s(stage: dict) -> float:
    start = _parse_ts(stage.get("firstTaskLaunchedTime") or stage["submissionTime"])
    end = _parse_ts(stage["completionTime"])
    return end - start


def _parse_ts(ts: str) -> float:
    # "2026-10-17T02:54:32.529GMT"
    from datetime import datetime, timezone

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fGMT").replace(
        tzinfo=timezone.utc
    ).timestamp()
