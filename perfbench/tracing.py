"""Traced runs: spans around the program's public calls, and Spark jobs
attributed to them from the JSON event log.

Spans are recorded from the benchmark's side only, by wrapping the calls
each layer is entered through (`Catalog.stage`/`write`, `calibrate`,
`select_threshold`, `f1_metrics`, `audit_record_ids`, `compact`). Each
span sets a Spark job group on its thread, so jobs it submits carry the
span's id. Jobs submitted by the program's own thread pools (the threshold
sweep, the stream's parallel writes) carry no group; they are attributed to
the innermost main-thread span open at their submission time. Spans stay in
memory and are reduced to metrics once the run ends.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

GROUP = "spark.jobGroup.id"
LAYERS = ("records", "blocking", "features", "score", "evaluate",
          "calibrate", "sweep", "cc", "catalog", "stream")
COMMON = ("wall_s", "jobs", "tasks_failed", "shuffle_write_mb", "spill_mb", "gc_s")
# Catalog.stage name -> layer
STAGE_LAYER = {
    "records": "records",
    "candidate_pairs": "blocking",
    "features": "features",
    "labeled_pairs": "evaluate",
    "scored_pairs": "score",
    "match_edges": "score",
    "clusters": "cc",
}
MB = 2**20


@dataclass
class Span:
    id: str
    name: str
    layer: str | None
    parent: str | None
    main_thread: bool
    t0: float
    t1: float = 0.0

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Collects spans. A span opened on a thread with no open span of its
    own (a program worker thread) becomes a child of the innermost open
    main-thread span."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stacks: dict[int, list[Span]] = {}
        self._lock = threading.Lock()
        self._main = threading.get_ident()

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        tid = threading.get_ident()
        with self._lock:
            stack = self._stacks.setdefault(tid, [])
            main = self._stacks.get(self._main) or [None]
            parent = stack[-1] if stack else main[-1]
            sp = Span(f"perfbench-{len(self.spans)}", name, layer,
                      parent.id if parent else None, tid == self._main,
                      time.time())
            self.spans.append(sp)
            stack.append(sp)
        prev = self.sc.getLocalProperty(GROUP)
        self.sc.setLocalProperty(GROUP, sp.id)
        try:
            yield sp
        finally:
            sp.t1 = time.time()
            self.sc.setLocalProperty(GROUP, prev)
            with self._lock:
                stack.pop()


@contextmanager
def instrument(tracer: Tracer):
    """Wrap the program's layer entry points for the duration of the block."""
    from nlp_entity_linking_spark.operators import records as R
    from nlp_entity_linking_spark.plans import pipeline as P
    from nlp_entity_linking_spark.plans import run as RUN
    from nlp_entity_linking_spark.sources.catalog import Catalog
    from nlp_entity_linking_spark.streaming import stream_ops as SO

    def spanned(name, layer):
        def wrap(orig):
            @functools.wraps(orig)
            def wrapped(*args, **kwargs):
                with tracer.span(name, layer):
                    return orig(*args, **kwargs)
            return wrapped
        return wrap

    def wrap_stage(orig):
        @functools.wraps(orig)
        def stage(self, spark, name, build, resume=False):
            def traced_build():
                with tracer.span(f"build:{name}"):
                    return build()
            with tracer.span(f"stage:{name}", STAGE_LAYER.get(name)):
                return orig(self, spark, name, traced_build, resume)
        return stage

    def wrap_write(orig):
        @functools.wraps(orig)
        def write(self, df, name, meta=None):
            with tracer.span(f"write:{name}", "catalog"):
                return orig(self, df, name, meta)
        return write

    targets = [
        (Catalog, "stage", wrap_stage),
        (Catalog, "write", wrap_write),
        (P, "calibrate", spanned("calibrate", "calibrate")),
        (P, "select_threshold", spanned("select_threshold", "sweep")),
        (RUN, "f1_metrics", spanned("f1_metrics", "evaluate")),
        (R, "audit_record_ids", spanned("audit_record_ids", "records")),
        (SO, "compact", spanned("compact", "stream")),
    ]
    originals = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]
    for owner, attr, wrap in targets:
        setattr(owner, attr, wrap(getattr(owner, attr)))
    try:
        yield
    finally:
        for owner, attr, orig in originals:
            setattr(owner, attr, orig)


def read_event_log(events_dir: str) -> tuple[list[dict], dict[int, dict]]:
    """-> (jobs, per-stage task totals) from a finished application's JSON
    event log."""
    jobs: list[dict] = []
    stages: dict[int, dict] = {}
    for path in sorted(glob.glob(os.path.join(events_dir, "**", "*"), recursive=True)):
        base = os.path.basename(path)
        if os.path.isdir(path) or base.startswith((".", "appstatus")):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jobs.append({
                        "id": ev["Job ID"],
                        "submit": ev["Submission Time"] / 1000.0,
                        "group": (ev.get("Properties") or {}).get(GROUP),
                        "stages": ev["Stage IDs"],
                    })
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], {
                        "tasks_failed": 0, "shuffle_write": 0, "spill": 0, "gc_ms": 0,
                    })
                    if ev["Task End Reason"]["Reason"] != "Success":
                        st["tasks_failed"] += 1
                    m = ev.get("Task Metrics") or {}
                    st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    st["spill"] += m.get("Disk Bytes Spilled", 0)
                    st["gc_ms"] += m.get("JVM GC Time", 0)
    return jobs, stages


def layer_metrics(tracer: Tracer, root: Span, jobs: list[dict],
                  stages: dict[int, dict]) -> dict[str, float]:
    """Per-layer wall, jobs, failed tasks, shuffle write, spill and GC.

    A layer's wall is the summed duration of its top-level spans (direct
    main-thread children of `root`); jobs count toward the layer of their
    span's top-level ancestor. The catalog is an overlay: its wall is the
    time inside Catalog.write plus the Catalog.stage time outside the
    stage's build and write (lineage append, read-back), and its jobs are
    those submitted from those spans — they also count in their stage's
    layer."""
    by_id = {s.id: s for s in tracer.spans}
    main_spans = [s for s in tracer.spans if s.main_thread]

    def top(span: Span | None) -> Span | None:
        while span is not None and span.parent != root.id:
            span = by_id.get(span.parent) if span.parent else None
        return span

    def span_of(job: dict) -> Span | None:
        if job["group"] in by_id:
            return by_id[job["group"]]
        t = job["submit"]
        open_ = [s for s in main_spans if s.t0 <= t <= s.t1]
        return max(open_, key=lambda s: s.t0) if open_ else None

    out = {f"{layer}.{m}": 0.0 for layer in LAYERS for m in COMMON}
    for sp in tracer.spans:
        if sp.parent == root.id and sp.main_thread and sp.layer:
            out[f"{sp.layer}.wall_s"] += sp.dur

    stage_owner: dict[int, int] = {}
    for job in jobs:
        for sid in job["stages"]:
            stage_owner.setdefault(sid, job["id"])

    def add_job(layer: str, job: dict) -> None:
        out[f"{layer}.jobs"] += 1
        for sid in job["stages"]:
            st = stages.get(sid)
            if st is None or stage_owner[sid] != job["id"]:
                continue
            out[f"{layer}.tasks_failed"] += st["tasks_failed"]
            out[f"{layer}.shuffle_write_mb"] += st["shuffle_write"] / MB
            out[f"{layer}.spill_mb"] += st["spill"] / MB
            out[f"{layer}.gc_s"] += st["gc_ms"] / 1000.0

    n_unattributed = 0
    for job in jobs:
        sp = span_of(job)
        if sp is None or not (root.t0 <= job["submit"] <= root.t1):
            continue
        t = top(sp)
        layer = t.layer if t is not None else None
        if layer:
            add_job(layer, job)
        else:
            n_unattributed += 1
        if layer != "catalog" and sp.name.startswith(("write:", "stage:")):
            add_job("catalog", job)

    write_s = sum(s.dur for s in tracer.spans if s.name.startswith("write:"))
    overhead_s = 0.0
    for s in tracer.spans:
        if s.name.startswith("stage:"):
            kids = [c.dur for c in tracer.spans if c.parent == s.id]
            overhead_s += s.dur - sum(kids)
    top_wall = sum(s.dur for s in tracer.spans
                   if s.parent == root.id and s.main_thread)
    out.update({
        "catalog.wall_s": write_s + overhead_s,
        "catalog.write_s": write_s,
        "catalog.overhead_s": overhead_s,
        "stream.compact_s": sum(s.dur for s in tracer.spans if s.name == "compact"),
        "trace.wall_s": root.dur,
        "trace.uncovered_s": root.dur - top_wall,
        "trace.unattributed_jobs": n_unattributed,
    })
    return out
