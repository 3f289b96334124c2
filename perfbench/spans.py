"""In-memory spans for the traced benchmark run.

A span covers one call the benchmark makes into a layer of nlp4l_spark.
It records its name (the layer), the operation, wall-clock start and end
(``time.time()``, so spans line up with the ``committed_at`` stamps in the
index manifests), its parent, its request id, and the Spark jobs and
stages that ran while it was the innermost open span.

Jobs are attributed with ``SparkContext.setJobGroup``: every open span
owns a job group, and on exit ``statusTracker().getJobIdsForGroup`` gives
the exact jobs it launched. Nested spans restore their parent's group on
exit, so a parent's own count excludes its children's.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# Build stages in commit order, each with the layer that does its work.
# The stage span starts when the previous table committed (the first one
# when build_index was called) and ends at the table's own commit.
BUILD_STAGES = (
    ("stored", "index.docids"),
    ("doc_terms_fwd", "analysis"),
    ("doc_lens", "index.builder"),
    ("segments", "index.codec"),
    ("postings", "index.codec"),
    ("term_stats", "index.builder"),
    ("field_stats", "index.builder"),
    ("_lineage", "index.builder"),
)


@dataclass
class Span:
    id: int
    name: str
    op: str
    start: float
    end: float
    parent: int | None
    request: str | None
    jobs: int = 0
    stages: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans; with ``enabled=False`` every call is a no-op."""

    def __init__(self, sc=None, enabled: bool = False):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, op: str = "", request: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = parent.request
        sp = Span(
            id=len(self.spans),
            name=name,
            op=op,
            start=time.time(),
            end=0.0,
            parent=parent.id if parent else None,
            request=request,
            attrs=attrs,
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._count_jobs(sp)
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def add(self, name: str, op: str, start: float, end: float, parent: Span) -> Span:
        """Record a span measured elsewhere (a reconstructed build stage)."""
        sp = Span(
            id=len(self.spans),
            name=name,
            op=op,
            start=start,
            end=end,
            parent=parent.id,
            request=parent.request,
        )
        self.spans.append(sp)
        return sp

    def add_build_stages(self, index_dir: str, build: Span) -> list[Span]:
        """Child spans of one ``build_index`` call, rebuilt from manifests."""
        if not self.enabled:
            return []
        return [
            self.add(layer, f"build.stage.{table.lstrip('_')}", s, e, build)
            for table, layer, s, e in stage_intervals(index_dir, build.start)
        ]

    # ---- Spark job groups ------------------------------------------------ #
    def _group(self, sp: Span) -> str:
        return f"perfbench-{sp.id}"

    def _set_group(self, sp: Span | None) -> None:
        if self.sc is None:
            return
        if sp is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(self._group(sp), f"{sp.name}:{sp.op}")

    def _count_jobs(self, sp: Span) -> None:
        if self.sc is None:
            return
        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(self._group(sp))
        sp.jobs = len(job_ids)
        stages = 0
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages += len(info.stageIds)
        sp.stages = stages

    # ---- output ------------------------------------------------------------ #
    def write(self, path: str, extra: dict | None = None) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        body = {
            "spans": [asdict(s) for s in self.spans],
            "self_s": layer_self_times(self.spans),
        }
        if extra:
            body.update(extra)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(body, fh, indent=1)


def stage_intervals(index_dir: str, build_start: float):
    """(table, layer, start, end) per committed build stage, in commit order."""
    out = []
    prev = build_start
    for table, layer in BUILD_STAGES:
        man = os.path.join(index_dir, table, "_MANIFEST.json")
        if not os.path.exists(man):
            continue
        with open(man, encoding="utf-8") as fh:
            end = float(json.load(fh)["committed_at"])
        out.append((table, layer, prev, end))
        prev = end
    return out


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the time its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.duration - covered(children.get(s.id, []), s.start, s.end)
        for s in spans
    }


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    """Layer name -> summed self time of its spans, in seconds."""
    own = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + own[s.id]
    return out
