"""Spans and Spark stage-metric attribution for the traced run.

A span records name, start, end and parent. Spans stay in memory and
are written out once, when the run ends. When a ``StageProbe`` is
attached, each span also carries the Spark work launched inside it: the
probe snapshots the status REST API before and after the span, and
``attribute`` sums the metrics of the stages, jobs and SQL executions
that appeared in between. The driver thread runs every action
synchronously, so that difference is exactly the span's work; a span
that launches no job gets zeros.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# REST stage fields summed per span, and the name each is reported under
STAGE_FIELDS = {
    "executorRunTime": "executor_run_s",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "spill_bytes",
    "diskBytesSpilled": "spill_bytes",
}
# SQL metrics of the Python-UDF nodes (ArrowEvalPython and friends)
ARROW_METRICS = ("data sent to Python workers", "data returned from Python workers")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None
    work: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans; ``probe`` (optional) attributes Spark work to them."""

    def __init__(self, probe=None, clock=time.perf_counter):
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self._probe = probe
        self._clock = clock

    @contextmanager
    def span(self, name: str):
        before = self._probe.snapshot() if self._probe else None
        parent = self._open[-1].id if self._open else None
        sp = Span(len(self.spans), name, parent, self._clock())
        self.spans.append(sp)
        self._open.append(sp)
        try:
            yield sp
        finally:
            sp.end = self._clock()
            self._open.pop()
            if self._probe:
                sp.work = attribute(before, self._probe.snapshot())

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        return self_time(span, self.children(span))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f, indent=1)


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of its interval that its
    children cover (overlapping children count once)."""
    covered = 0.0
    cur_start = cur_end = None
    for s, e in sorted(
        (max(c.start, span.start), min(c.end, span.end)) for c in children
    ):
        if e <= s:
            continue
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        covered += cur_end - cur_start
    return span.duration - covered


def parse_size(text: str) -> int:
    """Bytes of a Spark size-metric string; for the ``total (min, med,
    max ...)`` form, the total on the second line."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b", line)
    if not m:
        raise ValueError(f"not a size metric: {text!r}")
    return int(float(m.group(1).replace(",", "")) * _UNITS[m.group(2)])


def attribute(before: dict, after: dict) -> dict:
    """Work that appeared between two ``StageProbe.snapshot`` results:
    job count, summed stage metrics and Python-boundary bytes."""
    new_stages = [v for k, v in after["stages"].items() if k not in before["stages"]]
    out = {"jobs": len(after["jobs"] - before["jobs"])}
    for name in sorted(set(STAGE_FIELDS.values())):
        out[name] = 0
    for st in new_stages:
        for src, name in STAGE_FIELDS.items():
            out[name] += st.get(src, 0)
    out["executor_run_s"] /= 1000.0  # REST reports milliseconds
    out["arrow_bytes"] = sum(
        v for k, v in after["arrow"].items() if k not in before["arrow"]
    )
    return out


class StageProbe:
    """Snapshots of completed stages, jobs and per-execution Python-UDF
    bytes, read from the Spark status REST API (UI must be enabled)."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._base = (
            f"{self._sc.uiWebUrl}/api/v1/applications/{self._sc.applicationId}"
        )

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self._base}/{path}", timeout=60) as r:
            return json.load(r)

    def snapshot(self) -> dict:
        # the status store is fed by the asynchronous listener bus: drain
        # it so every stage of an action that already returned is visible
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        stages = {
            (s["stageId"], s["attemptId"]): s
            for s in self._get("stages?status=complete")
        }
        jobs = {j["jobId"] for j in self._get("jobs") if j["status"] != "RUNNING"}
        arrow = {}
        for e in self._get(
            "sql?details=true&planDescription=false&offset=0&length=1000000"
        ):
            if e["status"] == "RUNNING":
                continue
            arrow[e["id"]] = sum(
                parse_size(m["value"])
                for n in e.get("nodes", [])
                for m in n.get("metrics", [])
                if m["name"] in ARROW_METRICS
            )
        return {"stages": stages, "jobs": jobs, "arrow": arrow}
