"""Tracing for the benchmark's own calls into the package.

Around each layer call the benchmark opens a span (name, start, end,
parent, run id) and, when tracing is on, sets a Spark job group named
after the span, with the Spark event log enabled for the session.
Spans stay in memory and are written when the run ends; after the
session stops, the event log is read back and every job, stage and
task is attributed to the span whose job group it ran under. Jobs of a
streaming query run on the stream's own thread under its run id; they
are attributed per micro-batch from the job description instead.
"""

from __future__ import annotations

import contextlib
import glob
import json
import re
import time

STREAM_BATCH = re.compile(r"batch = (\d+)")


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool) -> None:
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, layer: str, call: str, **attrs):
        """Span around one call into ``layer``. A no-op when tracing is
        off, so untraced runs pay nothing for it."""
        if not self.enabled:
            yield {}
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans), "run": self.run_id, "layer": layer,
            "call": call, "parent": parent["id"] if parent else None, **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        group = f"pb-{self.run_id}-{rec['id']}"
        sc.setLocalProperty("spark.jobGroup.id", group)
        sc.setLocalProperty("spark.job.description", f"{layer}.{call}")
        rec["group"] = group
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            outer = self._stack[-1] if self._stack else None
            sc.setLocalProperty("spark.jobGroup.id", outer["group"] if outer else None)
            sc.setLocalProperty(
                "spark.job.description",
                f"{outer['layer']}.{outer['call']}" if outer else None,
            )

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def read_event_log(log_dir: str) -> dict:
    """Jobs and per-stage task totals from every event log in ``log_dir``."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for path in glob.glob(f"{log_dir}/*"):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "desc": props.get("spark.job.description") or "",
                        "submit": ev["Submission Time"] / 1e3,
                        "end": None,
                        "stages": ev.get("Stage IDs", []),
                    }
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], _zero_stage())
                    info = ev.get("Task Info") or {}
                    tm = ev.get("Task Metrics") or {}
                    reason = (ev.get("Task End Reason") or {}).get("Reason")
                    st["failed_tasks"] += int(bool(info.get("Failed")) or reason != "Success")
                    st["task_s"] += tm.get("Executor Run Time", 0) / 1e3
                    st["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0
                    )
                    st["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    st["records_read"] += (tm.get("Input Metrics") or {}).get(
                        "Records Read", 0
                    )
    # a stage listed by several jobs (reused shuffle output) is charged
    # to the first job that listed it, which is the one that ran it
    owner: dict[int, int] = {}
    for jid in sorted(jobs):
        for sid in jobs[jid]["stages"]:
            owner.setdefault(sid, jid)
    for jid, job in jobs.items():
        tot = _zero_stage()
        for sid in job["stages"]:
            if owner.get(sid) == jid and sid in stages:
                for key in tot:
                    tot[key] += stages[sid][key]
        job.update(tot)
    return jobs


def _zero_stage() -> dict:
    return {"task_s": 0.0, "spill_bytes": 0, "shuffle_bytes": 0,
            "records_read": 0, "failed_tasks": 0}


def attribute(spans: list[dict], jobs: dict) -> None:
    """Fill each span with the totals of the Spark jobs it caused:
    jobs in its job group, or, for a span that records the streaming
    micro-batch ids it waited for, the jobs of those batches."""
    by_group: dict[str, list[dict]] = {}
    by_batch: dict[int, list[dict]] = {}
    for job in jobs.values():
        by_group.setdefault(job["group"], []).append(job)
        m = STREAM_BATCH.search(job["desc"])
        if m and not (job["group"] or "").startswith("pb-"):
            by_batch.setdefault(int(m.group(1)), []).append(job)
    for s in spans:
        if "batches" in s:
            mine = [j for b in s["batches"] for j in by_batch.get(b, [])]
        else:
            mine = by_group.get(s.get("group"), [])
        s["jobs"] = len(mine)
        for key in ("task_s", "spill_bytes", "shuffle_bytes", "records_read", "failed_tasks"):
            s[key] = sum(j[key] for j in mine)
        s["wall_s"] = s["end"] - s["start"]
        s["driver_s"] = s["wall_s"] - _covered(
            [(j["submit"], j["end"] or s["end"]) for j in mine], s["start"], s["end"]
        )
    for s in spans:
        kids = [(c["start"], c["end"]) for c in spans if c["parent"] == s["id"]]
        s["self_s"] = s["wall_s"] - _covered(kids, s["start"], s["end"])


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
