"""Spans, peak-RSS sampling and Spark REST harvesting.

All of it observes the program from outside: spans wrap calls into a
layer's public function, RSS comes from ``/proc``, and stage and SQL
metrics come from the Spark UI's REST API (``/api/v1``). Spans stay in
memory and are written out as JSON when the run ends.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    group: str = ""

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory span recorder. Each span sets a Spark job group, so the
    jobs, stages and SQL executions it triggers can be attributed to it
    afterwards (job descriptions do not work: under AQE they read
    ``$anonfun... at CompletableFuture.java``)."""

    run_id: str
    spark: object
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].group if self._stack else None
        group = f"{self.run_id}:{len(self.spans)}:{name}"
        s = Span(name=name, start=time.perf_counter(), parent=parent, group=group)
        self.spans.append(s)
        self._stack.append(s)
        sc = self.spark.sparkContext
        sc.setJobGroup(group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(self._stack[-1].group, self._stack[-1].name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def seconds(self, name: str) -> float:
        return sum(s.seconds for s in self.spans if s.name == name)

    def groups(self, name: str) -> set[str]:
        """Job groups of every span called ``name`` and of its descendants."""
        own = {s.group for s in self.spans if s.name == name}
        grown = True
        while grown:
            kids = {s.group for s in self.spans if s.parent in own}
            grown = not kids <= own
            own |= kids
        return own

    def dump(self, path: str) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        with open(path, "w") as fh:
            json.dump(
                [
                    {"name": s.name, "start": s.start - t0, "end": s.end - t0,
                     "parent": s.parent, "id": s.group, "run_id": self.run_id}
                    for s in self.spans
                ],
                fh, indent=1,
            )


# --------------------------------------------------------------------------
# peak RSS of the driver JVM plus its Python workers, from /proc


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid follows the closing paren
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _field_kib(path: str, field: str) -> int:
    try:
        with open(path) as fh:
            for line in fh:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def descendants(root: int) -> list[int]:
    """``root`` and every process below it."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_rss_kib(root: int) -> int:
    """Resident memory of the JVM ``root`` plus its Python workers.

    Workers are forked from one daemon and share its pages, so each
    counts its proportional share (PSS). Other children are forks the JVM
    makes to run shell commands: until they exec they report the JVM's
    whole RSS as their own, so they are not counted.
    """
    return _field_kib(f"/proc/{root}/status", "VmRSS:") + sum(
        _field_kib(f"/proc/{pid}/smaps_rollup", "Pss:")
        for pid in descendants(root)[1:]
        if _comm(pid).startswith("python")
    )


class RssSampler:
    """Samples :func:`tree_rss_kib` every ``interval`` seconds on a daemon
    thread; :meth:`stop` returns the largest value seen, in MiB."""

    def __init__(self, root_pid: int, interval: float = 0.1):
        self.root_pid = root_pid
        self.interval = interval
        self.peak_kib = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kib = max(self.peak_kib, tree_rss_kib(self.root_pid))
            self._stop.wait(self.interval)

    def start(self) -> RssSampler:
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_kib / 1024.0


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


# --------------------------------------------------------------------------
# Spark REST API


class SparkRest:
    """Reads jobs, stages and SQL executions of the live application."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.spark = spark

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.loads(r.read())

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store the REST API reads is complete."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def snapshot(self) -> Snapshot:
        self.drain()
        jobs = self.get("jobs")
        stages = self.get("stages?details=false")
        sql = self.get("sql?details=true&planDescription=true&offset=0&length=100000")
        return Snapshot(jobs, stages, sql, self)


@dataclass
class Snapshot:
    jobs: list
    stages: list
    sql: list
    rest: SparkRest

    def jobs_of(self, groups: set[str]) -> list:
        return [j for j in self.jobs if j.get("jobGroup") in groups]

    def stages_of(self, groups: set[str]) -> list:
        ids = {sid for j in self.jobs_of(groups) for sid in j.get("stageIds", ())}
        return [s for s in self.stages if s["stageId"] in ids
                and s.get("status") == "COMPLETE"]

    def sql_of(self, groups: set[str]) -> list:
        job_ids = {j["jobId"] for j in self.jobs_of(groups)}
        return [
            e for e in self.sql
            if job_ids & set(e.get("successJobIds", []) + e.get("failedJobIds", [])
                             + e.get("runningJobIds", []))
        ]

    def stage_sum(self, groups: set[str], key: str) -> float:
        return float(sum(s.get(key, 0) for s in self.stages_of(groups)))

    def task_skew(self, groups: set[str]) -> float:
        """max / median task run time in the busiest stage of ``groups``."""
        stages = self.stages_of(groups)
        if not stages:
            return 0.0
        busiest = max(stages, key=lambda s: s.get("executorRunTime", 0))
        summary = self.rest.get(
            f"stages/{busiest['stageId']}/{busiest['attemptId']}"
            "/taskSummary?quantiles=0.5,1.0"
        )
        med, top = summary["executorRunTime"]
        return float(top) / med if med else 1.0

    def _node_values(self, groups: set[str], node_re: str, metric: str) -> list[float]:
        pat = re.compile(node_re)
        return [
            _metric_number(m.get("value", "0"))
            for e in self.sql_of(groups)
            for node in e.get("nodes", [])
            if pat.search(node.get("nodeName", ""))
            for m in node.get("metrics", [])
            if m.get("name") == metric
        ]

    def node_sum(self, groups: set[str], node_re: str, metric: str) -> float:
        """Sum of one SQL plan-node metric over the executions of
        ``groups``, for nodes whose name matches ``node_re``."""
        return float(sum(self._node_values(groups, node_re, metric)))

    def node_max(self, groups: set[str], node_re: str, metric: str) -> float:
        return float(max(self._node_values(groups, node_re, metric), default=0.0))

    def scans_of(self, groups: set[str], path: str) -> int:
        """File scans over ``path`` that ran in the executions of
        ``groups``: scan nodes of the final plan (AQE also prints the
        initial plan, whose scans were replaced) located under ``path``."""
        needle = os.path.realpath(path).rstrip("/")
        return sum(_final_scans(e.get("planDescription", ""), needle)
                   for e in self.sql_of(groups))


def _final_scans(plan: str, needle: str) -> int:
    tree, _, details = plan.partition("\n\n\n")
    final = tree.split("== Initial Plan ==")[0]
    ids = set(re.findall(r"Scan \w+ .*\((\d+)\)\s*$", final, re.M))
    n = 0
    for section in details.split("\n\n"):
        head = re.match(r"\((\d+)\) Scan ", section)
        if head and head.group(1) in ids and any(
                line.startswith("Location:") and needle in line
                for line in section.splitlines()):
            n += 1
    return n


_NUM = re.compile(r"-?[\d,]+(?:\.\d+)?")


def _metric_number(value: str) -> float:
    """First number of a SQL metric value ('1,234' or 'total (min, med,
    max)\\n12.0 KiB (...)'); plain counts are the common case here."""
    m = _NUM.search(value.replace("\n", " "))
    return float(m.group().replace(",", "")) if m else 0.0
