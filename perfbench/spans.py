"""In-memory spans for the traced run: pass → op → build/exec → Spark job
→ stage. A span's self time is its duration minus the part of its interval
that its children cover."""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float  # epoch seconds
    end: float
    attrs: dict = field(default_factory=dict)


def covered(start: float, end: float, intervals) -> float:
    """Length of ``[start, end]`` covered by the union of ``intervals``."""
    total, cursor = 0.0, start
    for a, b in sorted((max(a, start), min(b, end)) for a, b in intervals):
        if b <= cursor:
            continue
        a = max(a, cursor)
        total += b - a
        cursor = b
    return total


class Tracer:
    def __init__(self, trace_id: str) -> None:
        self.trace_id = trace_id
        self.spans: list[Span] = []

    def add(self, parent: int | None, name: str, start: float, end: float, **attrs) -> int:
        span = Span(len(self.spans), parent, name, start, end, attrs)
        self.spans.append(span)
        return span.id

    def self_time(self, span_id: int) -> float:
        span = self.spans[span_id]
        kids = [(s.start, s.end) for s in self.spans if s.parent == span_id]
        return (span.end - span.start) - covered(span.start, span.end, kids)

    def add_jobs(self, phases: dict[int, tuple[float, float]], jobs) -> None:
        """Attach Spark jobs (and their stages) under the phase span whose
        interval holds the job's submission time; a job submitted between
        phases goes to the nearest earlier one."""
        for job in jobs:
            if job["start"] is None:
                continue
            parent = max(
                (pid for pid, (a, _) in phases.items() if a <= job["start"] + 1e-3),
                key=lambda pid: phases[pid][0],
                default=min(phases),
            )
            jid = self.add(parent, f"job {job['id']}", job["start"], job["end"] or job["start"])
            for st in job["stages"]:
                if st["start"] is not None:
                    self.add(
                        jid, f"stage {st['id']}", st["start"], st["end"] or st["start"],
                        tasks=st["tasks"], run_s=st["run_s"], cpu_s=st["cpu_s"],
                    )

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {"trace_id": self.trace_id, "spans": [asdict(s) for s in self.spans]}, f
            )
