"""Spans around calls into the program, and attribution of Spark jobs to them.

Spans (name, start, end, parent) are timed from outside the program, around
each call into a layer's public function, and kept in memory. In a traced
run each leaf span also sets a Spark job group, and Spark's event log is on;
after the session stops, ``read_jobs`` reads the log and sums every job and
task into the group, and so the span, it ran under. Jobs that an eager call inside
the package started also carry a call site (``collect at .../plans/skew.py:
155``), which names the module that asked for them; writes and checkpoints
carry none and count only towards their span.
"""

from __future__ import annotations

import ast
import json
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    info: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def group(self) -> str:
        return f"perfbench-{self.id}"


class Spans:
    """In-memory span recorder. With ``sc`` set, every span opened with
    ``group=True`` runs its Spark jobs under its own job group."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, group: bool = False, **info):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent, time.time(), info=info)
        self.spans.append(s)
        self._stack.append(s.id)
        if group and self.sc is not None:
            self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if group and self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def leaves(self, span: Span) -> list[Span]:
        kids = self.children(span)
        return [span] if not kids else [x for k in kids for x in self.leaves(k)]

    def as_json(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "parent": s.parent,
             "start": round(s.start, 4), "end": round(s.end, 4), **s.info}
            for s in self.spans
        ]


# ------------------------------------------------------------- event log
@dataclass
class Job:
    id: int
    group: str | None
    site: str | None  # "plans.skew", "plans.pipeline.Stage.write", ...
    action: str  # "collect", "first", ... ("" without a call site)
    start: float
    end: float = 0.0


@dataclass
class Usage:
    """What the jobs of one group used."""

    jobs: list = field(default_factory=list)
    task_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    failed_tasks: int = 0

    def add(self, other: "Usage") -> None:
        self.jobs += other.jobs
        self.task_s += other.task_s
        self.shuffle_write_mb += other.shuffle_write_mb
        self.spill_mb += other.spill_mb
        self.failed_tasks += other.failed_tasks

    def busy_s(self, start: float, end: float) -> float:
        """Seconds of [start, end] during which at least one job ran."""
        ivs = sorted((max(j.start, start), min(j.end, end)) for j in self.jobs)
        busy, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        return busy


_SITE = re.compile(r"^\S+ at (.+\.py):(\d+)$")


class SiteNamer:
    """Maps a call site ``<action> at <file>.py:<line>`` to the package
    module that made it, with the enclosing class and function for
    ``plans/pipeline.py`` (whose jobs belong to distinct pipeline steps)."""

    def __init__(self, package_dir: Path):
        self.package_dir = package_dir.resolve()
        self._funcs: dict[Path, list] = {}

    def _qualname(self, path: Path, line: int) -> str | None:
        if path not in self._funcs:
            spans = []

            def walk(node, prefix):
                for ch in ast.iter_child_nodes(node):
                    if isinstance(ch, (ast.FunctionDef, ast.ClassDef)):
                        q = f"{prefix}{ch.name}"
                        spans.append((ch.lineno, ch.end_lineno, q))
                        walk(ch, q + ".")

            walk(ast.parse(path.read_text()), "")
            self._funcs[path] = spans
        inner = [s for s in self._funcs[path] if s[0] <= line <= s[1]]
        return max(inner, key=lambda s: s[0])[2] if inner else None

    def __call__(self, site: str | None) -> str | None:
        m = _SITE.match(site or "")
        if not m:
            return None
        path = Path(m.group(1)).resolve()
        try:
            rel = path.relative_to(self.package_dir).with_suffix("")
        except ValueError:
            return None
        module = ".".join(rel.parts)
        if module == "plans.pipeline":
            q = self._qualname(path, int(m.group(2)))
            if q and "." in q:  # a method: name its class and function
                return f"{module}.{q}"
        return module


def read_jobs(log: Path, site_name) -> dict[str | None, Usage]:
    """Jobs and task totals per job group, from one application's event
    log."""
    jobs: dict[int, Job] = {}
    stage_group: dict[int, str | None] = {}
    usage: dict[str | None, Usage] = {}
    with open(log) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                site = props.get("callSite.short")
                j = Job(e["Job ID"], props.get("spark.jobGroup.id"), site_name(site),
                        (site or "").split(" at ")[0], e["Submission Time"] / 1000.0)
                jobs[j.id] = j
                usage.setdefault(j.group, Usage()).jobs.append(j)
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                props = e.get("Properties") or {}
                stage_group[e["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id")
            elif kind == "SparkListenerTaskEnd":
                u = usage.setdefault(stage_group.get(e["Stage ID"]), Usage())
                if e["Task End Reason"]["Reason"] != "Success":
                    u.failed_tasks += 1
                m = e.get("Task Metrics") or {}
                u.task_s += m.get("Executor Run Time", 0) / 1000.0
                sw = m.get("Shuffle Write Metrics") or {}
                u.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / 2**20
                u.spill_mb += m.get("Disk Bytes Spilled", 0) / 2**20
    return usage
