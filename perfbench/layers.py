"""Layer collector: per-op Spark job, stage and SQL-node metrics read from
the status REST API of the running application, rolled up per module.

An op runs under the job group ``<workload>.<module>.<function>``;
streaming micro-batch jobs carry the query's ``runId`` as their group
instead, so a streaming op also claims the jobs of the run ids it
reports. The API is served by the driver's UI at
``{uiWebUrl}/api/v1/applications/<app id>/{jobs,stages,sql}``.
"""

from __future__ import annotations

import json
import time
import urllib.request
from datetime import datetime, timezone

MB = 1024.0 * 1024.0

#: Modules the per-layer metrics are named after.
MODULES = (
    "sources",
    "operators.ingest",
    "streaming",
    "catalog",
    "operators.dedup",
    "operators.similarity",
    "operators.graph",
    "operators.graphs",
)
BASE_METRICS = (
    "wall_s",
    "driver_s",
    "exec_run_s",
    "exec_cpu_s",
    "gc_s",
    "n_jobs",
    "n_stages",
    "n_tasks",
    "failed_tasks",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
)


def _ts(s: str | None) -> float | None:
    """REST timestamps look like ``2026-01-01T00:00:00.123GMT``."""
    if not s:
        return None
    return datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc
    ).timestamp()


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def rows_metric(node: dict) -> int | None:
    for m in node.get("metrics", []):
        if m.get("name") == "number of output rows":
            return int("".join(ch for ch in str(m.get("value")) if ch.isdigit()) or 0)
    return None


class Collector:
    """Reads the REST API of one SparkContext."""

    def __init__(self, sc):
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def op_record(
        self,
        groups: set[str],
        t0: float,
        t1: float,
        settle_s: float = 5.0,
    ) -> dict:
        """Metrics of every job whose group is in ``groups``, waiting up to
        ``settle_s`` for the status listener to mark them finished."""
        deadline = time.monotonic() + settle_s
        while True:
            jobs = [j for j in self._get("jobs") if j.get("jobGroup") in groups]
            if all(j["status"] in ("SUCCEEDED", "FAILED") for j in jobs) or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        job_ids = {j["jobId"] for j in jobs}
        stage_ids = {s for j in jobs for s in j.get("stageIds", [])}
        stages = [
            s
            for s in self._get("stages?details=false")
            if s["stageId"] in stage_ids and s["status"] not in ("SKIPPED", "PENDING")
        ]
        intervals = []
        for s in stages:
            a, b = _ts(s.get("submissionTime")), _ts(s.get("completionTime"))
            if a is not None:
                intervals.append((a, b if b is not None else t1))
        busy = union_length(intervals, t0, t1)
        sql = [
            e
            for e in self._get("sql?details=true&planDescription=false&length=100000")
            if job_ids & set(e.get("successJobIds", []) + e.get("failedJobIds", []))
        ]
        return {
            "wall_s": t1 - t0,
            "stage_union_s": busy,
            "driver_s": max(0.0, (t1 - t0) - busy),
            "exec_run_s": sum(s.get("executorRunTime", 0) for s in stages) / 1e3,
            "exec_cpu_s": sum(s.get("executorCpuTime", 0) for s in stages) / 1e9,
            "gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1e3,
            "n_jobs": len(jobs),
            "n_stages": len(stages),
            "n_tasks": sum(s.get("numCompleteTasks", 0) + s.get("numFailedTasks", 0) for s in stages),
            "failed_tasks": sum(s.get("numFailedTasks", 0) for s in stages),
            "shuffle_read_mb": sum(s.get("shuffleReadBytes", 0) for s in stages) / MB,
            "shuffle_write_mb": sum(s.get("shuffleWriteBytes", 0) for s in stages) / MB,
            "spill_mb": sum(s.get("diskBytesSpilled", 0) for s in stages) / MB,
            "scan_mb": sum(s.get("inputBytes", 0) for s in stages) / MB,
            "write_mb": sum(s.get("outputBytes", 0) for s in stages) / MB,
            "sql": [{"nodes": e.get("nodes", []), "edges": e.get("edges", [])} for e in sql],
        }


class Plan:
    """One SQL execution's physical plan graph, from the ``/sql`` endpoint
    (edges point from child to parent)."""

    def __init__(self, execution: dict):
        self.nodes = {n["nodeId"]: n for n in execution["nodes"]}
        self.children: dict[int, list[int]] = {}
        parents = set()
        for e in execution["edges"]:
            self.children.setdefault(e["toId"], []).append(e["fromId"])
            parents.add(e["fromId"])
        self.roots = sorted(n for n in self.children if n not in parents)

    def below(self, nid: int):
        """Nodes under ``nid``, breadth first."""
        todo = list(self.children.get(nid, []))
        while todo:
            c = todo.pop(0)
            yield c
            todo.extend(self.children.get(c, []))

    def rows_into(self, nid: int) -> int | None:
        """Output rows of the nearest row-counting node under ``nid``."""
        for c in self.below(nid):
            r = rows_metric(self.nodes[c])
            if r is not None:
                return r
        return None

    def first(self, names: tuple[str, ...]) -> int | None:
        """The named node nearest the root."""
        for root in self.roots:
            for c in [root, *self.below(root)]:
                if self.nodes[c]["nodeName"] in names:
                    return c
        return None


def lsh_counts(sql_execs: list[dict]) -> tuple[int, int]:
    """(candidate pairs, verified pairs) of MinHash LSH plans: the
    candidates are the output of the distinct over band-collision pairs
    (the aggregate nearest the root), the verified pairs what the plan
    returns after the exact-Jaccard check."""
    cand = verified = 0
    for e in sql_execs:
        plan = Plan(e)
        agg = plan.first(("HashAggregate",))
        if agg is None:
            continue
        cand += rows_metric(plan.nodes[agg]) or 0
        verified += sum(plan.rows_into(r) or 0 for r in plan.roots)
    return cand, verified


def window_input_rows(sql_execs: list[dict]) -> int:
    """Rows fed into per-query top-k (``WindowGroupLimit`` / ``Window``)
    nodes: the pairs actually scored. Only the lowest top-k node of each
    chain counts."""
    names = ("Window", "WindowGroupLimit")
    total = 0
    for e in sql_execs:
        plan = Plan(e)
        for nid, node in plan.nodes.items():
            if node["nodeName"] in names and not any(
                plan.nodes[c]["nodeName"] in names for c in plan.below(nid)
            ):
                total += plan.rows_into(nid) or 0
    return total


def rollup(records: list[dict]) -> dict[str, dict[str, float]]:
    """Sum op records per module; modules without ops report zeros."""
    per = {m: {k: 0.0 for k in BASE_METRICS + ("scan_mb", "write_mb")} for m in MODULES}
    for r in records:
        agg = per[r["module"]]
        for k in agg:
            agg[k] += r[k]
    return per
