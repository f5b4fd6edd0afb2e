"""Benchmark-side tracing: spans around the calls the benchmark makes, and a
parser for Spark's own event log that attributes jobs to those spans.

Nothing here reaches inside the engine. Jobs are attributed to the innermost
span whose wall interval contains the job's submission time (the benchmark
client is one thread, so its spans nest strictly); inside ``run_pipeline`` and
``run_manager`` jobs are further grouped by the engine's existing
``mpnsm:<stage>`` job descriptions.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

# Spark execution counters summed over a set of jobs ("S" in the metric map).
COUNTERS = (
    ("jobs", "count"),
    ("tasks", "count"),
    ("run_s", "s"),
    ("cpu_s", "s"),
    ("gc_s", "s"),
    ("shuffle_write_mb", "MB"),
    ("fetch_wait_s", "s"),
    ("spill_mb", "MB"),
)


class Tracer:
    """In-memory span recorder. Disabled tracers record nothing and cost one
    attribute check per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: int | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def children(self, span_id: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span_id]

    def self_time(self, span: dict) -> float:
        """Span duration minus the part of it covered by its child spans
        (children of one thread never overlap, so their durations add)."""
        kids = sum(c["end"] - c["start"] for c in self.children(span["id"]))
        return (span["end"] - span["start"]) - kids

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def measured(self, name: str) -> list[dict]:
        """Spans called ``name`` recorded inside the measured loop."""
        return [s for s in self.named(name) if s["op"] is not None]

    def dump(self, path: str) -> None:
        out = [{**s, "self_s": self.self_time(s)} for s in self.spans]
        with open(path, "w") as fh:
            json.dump(out, fh, default=str)


# ------------------------------------------------------------------ event log


def _zero() -> dict:
    return {k: 0.0 for k, _ in COUNTERS}


def parse_event_log(path: str) -> list[dict]:
    """Jobs of one application: id, submit/end (epoch s), description and the
    summed task counters of the stages the job ran."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_ctr: dict[int, dict] = {}
    wanted = ('"SparkListenerJobStart"', '"SparkListenerJobEnd"', '"SparkListenerTaskEnd"')
    with open(path) as fh:
        for line in fh:
            if not any(w in line[:64] for w in wanted):
                continue
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "id": jid,
                    "submit": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "desc": props.get("spark.job.description"),
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            else:
                m = ev.get("Task Metrics")
                if not m:
                    continue
                c = stage_ctr.setdefault(ev["Stage ID"], _zero())
                c["tasks"] += 1
                c["run_s"] += m.get("Executor Run Time", 0) / 1e3
                c["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                c["shuffle_write_mb"] += (
                    (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    / 1e6
                )
                c["fetch_wait_s"] += (
                    (m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0) / 1e3
                )
                c["spill_mb"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                ) / 1e6
                c["input_mb"] = c.get("input_mb", 0.0) + (
                    (m.get("Input Metrics") or {}).get("Bytes Read", 0) / 1e6
                )
    for j in jobs.values():
        j["ctr"] = _zero()
        j["ctr"]["jobs"] = 1.0
        j["input_mb"] = 0.0
    for sid, c in stage_ctr.items():
        j = jobs.get(stage_job.get(sid))
        if j is None:
            continue
        for k, _ in COUNTERS:
            if k != "jobs":
                j["ctr"][k] += c[k]
        j["input_mb"] += c.get("input_mb", 0.0)
    return sorted(jobs.values(), key=lambda j: j["submit"])


def attribute(tracer: Tracer, jobs: list[dict]) -> None:
    """Tag each job with the innermost span whose interval contains its
    submission time (``span`` = span id, None when outside every span)."""
    spans = sorted(tracer.spans, key=lambda s: s["start"])
    for j in jobs:
        best = None
        for s in spans:
            if s["start"] <= j["submit"] <= s["end"]:
                if best is None or s["start"] >= best["start"]:
                    best = s
        j["span"] = None if best is None else best["id"]


def sum_counters(jobs: list[dict]) -> dict:
    out = _zero()
    for j in jobs:
        for k, _ in COUNTERS:
            out[k] += j["ctr"][k]
    return out


def jobs_under(tracer: Tracer, jobs: list[dict], span: dict) -> list[dict]:
    """Jobs attributed to ``span`` or any of its descendants."""
    ids = {span["id"]}
    changed = True
    while changed:
        changed = False
        for s in tracer.spans:
            if s["parent"] in ids and s["id"] not in ids:
                ids.add(s["id"])
                changed = True
    return [j for j in jobs if j.get("span") in ids]


def first_job_delay(tracer: Tracer, jobs: list[dict], span: dict) -> float | None:
    under = jobs_under(tracer, jobs, span)
    if not under:
        return None
    return min(j["submit"] for j in under) - span["start"]


def median0(values) -> float:
    values = [v for v in values if v is not None]
    return statistics.median(values) if values else 0.0


def per_op_counters(tracer, jobs, spans, desc_filter=None) -> dict:
    """Median over ``spans`` (one per operation) of the S counters of the
    jobs under each span, optionally restricted by job description."""
    per = []
    for s in spans:
        js = jobs_under(tracer, jobs, s)
        if desc_filter is not None:
            js = [j for j in js if desc_filter(j.get("desc"))]
        per.append(sum_counters(js))
    return {k: median0([p[k] for p in per]) for k, _ in COUNTERS}


# ---------------------------------------------------------- streaming progress


def progress_dicts(query) -> list[dict]:
    """``StreamingQueryProgress`` of every trigger a finished query ran."""
    out = []
    for p in query.recentProgress:
        if isinstance(p, dict):
            out.append(p)
        elif hasattr(p, "json"):
            out.append(json.loads(p.json))
        else:
            out.append(json.loads(str(p)))
    return out
