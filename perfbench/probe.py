"""Layer readers that look at the program from outside: Spark's status
store, streaming progress, and an in-memory span recorder.

The status-store walk is keyed by job and stage id.  Both are
monotone, so work done since a cursor stays countable even after the
store evicts old entries (the technique of
``tests/test_incremental_stress.py``'s ``_work_since``).
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from datetime import datetime

import numpy as np


PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
          "addBatch", "commitOffsets")
_BATCH_RE = re.compile(r"\nbatch = (\d+)")


@dataclass
class StageWork:
    stage_id: int
    name: str
    tasks: int
    run_ms: int
    input_records: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    attempt: int = 0


@dataclass
class Work:
    """Work Spark did between two cursors."""
    jobs: int = 0
    stages: list[StageWork] = field(default_factory=list)
    # streaming batch id -> stage ids of its jobs, from the job
    # description Spark sets for every job a micro-batch runs
    batch_jobs: dict[int, list[int]] = field(default_factory=dict)

    @property
    def tasks(self) -> int:
        return sum(s.tasks for s in self.stages)

    @property
    def run_s(self) -> float:
        return sum(s.run_ms for s in self.stages) / 1000.0

    @property
    def shuffle_mb(self) -> float:
        return sum(s.shuffle_read_bytes + s.shuffle_write_bytes
                   for s in self.stages) / 1e6


class StatusStore:
    """Reads jobs, stages and tasks from the driver's AppStatusStore."""

    def __init__(self, spark):
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._stage_defaults = [
            getattr(self._store, f"stageData$default${n}")()
            for n in range(2, 6)]

    def cursor(self) -> tuple[int, int]:
        """(highest job id, highest stage id) retained right now."""
        jobs = self._store.jobsList(None)
        mj = ms = -1
        for i in range(jobs.size()):
            j = jobs.apply(i)
            mj = max(mj, j.jobId())
            sids = j.stageIds()
            for k in range(sids.size()):
                ms = max(ms, sids.apply(k))
        return mj, ms

    def work_since(self, cursor: tuple[int, int]) -> Work:
        job_cur, stage_cur = cursor
        work = Work()
        seen: set[int] = set()
        jobs = self._store.jobsList(None)
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= job_cur:
                continue
            work.jobs += 1
            desc = j.description()
            m = _BATCH_RE.search(desc.get()) if desc.isDefined() else None
            sids = j.stageIds()
            stage_ids = [sids.apply(k) for k in range(sids.size())]
            if m:
                work.batch_jobs.setdefault(int(m.group(1)), []).extend(
                    stage_ids)
            for sid in stage_ids:
                if sid <= stage_cur or sid in seen:
                    continue
                seen.add(sid)
                attempts = self._store.stageData(sid, *self._stage_defaults)
                for a in range(attempts.size()):
                    s = attempts.apply(a)
                    work.stages.append(StageWork(
                        stage_id=sid, name=str(s.name()),
                        tasks=int(s.numCompleteTasks()),
                        run_ms=int(s.executorRunTime()),
                        input_records=int(s.inputRecords()),
                        shuffle_read_bytes=int(s.shuffleReadBytes()),
                        shuffle_write_bytes=int(s.shuffleWriteBytes()),
                        attempt=int(s.attemptId())))
        return work

    def task_run_ms(self, stage: StageWork) -> list[int]:
        """Executor run time of each task of one stage attempt."""
        tasks = self._store.taskList(stage.stage_id, stage.attempt,
                                     stage.tasks or 1)
        out = []
        for i in range(tasks.size()):
            m = tasks.apply(i).taskMetrics()
            if m.isDefined():
                out.append(int(m.get().executorRunTime()))
        return out


def progress_dicts(query) -> list[dict]:
    """The query's retained progress reports as plain dicts."""
    out = []
    for p in query.recentProgress:
        out.append(json.loads(p.json) if hasattr(p, "json") else dict(p))
    return out


def progress_start_ns(p: dict) -> int:
    ts = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    epoch = datetime(1970, 1, 1)
    return int((ts - epoch).total_seconds() * 1000) * 1_000_000


def scan_tasks(progress: list[dict], work: Work) -> list[int]:
    """File-scan tasks of each data-carrying trigger in ``progress``:
    tasks of its stages that read input records.  ``work`` must cover
    exactly these triggers (batch ids repeat across queries)."""
    by_stage = {s.stage_id: s for s in work.stages}
    out = []
    for p in progress:
        if p.get("numInputRows", 0) > 0:
            sids = set(work.batch_jobs.get(int(p["batchId"]), []))
            out.append(sum(by_stage[s].tasks for s in sids
                           if s in by_stage
                           and by_stage[s].input_records > 0))
    return out


def trigger_metrics(progress: list[dict], scans: list[int]) -> dict:
    """Per-trigger medians of the progress phases (ms), the addBatch
    p99, input rows and file-scan tasks, over data-carrying triggers."""
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    if not data:
        raise ValueError("no trigger carried data")

    def dur(key: str) -> list[float]:
        return [p["durationMs"].get(key, 0) for p in data]
    out = {f"trigger.{ph}_ms": float(np.median(dur(ph))) for ph in PHASES}
    out["trigger.total_ms"] = float(np.median(dur("triggerExecution")))
    out["trigger.addBatch_p99_ms"] = float(
        np.percentile(dur("addBatch"), 99))
    out["trigger.rows"] = float(
        np.median([p["numInputRows"] for p in data]))
    out["trigger.scan_tasks"] = float(np.median(scans)) if scans else 0.0
    return out


class Spans:
    """In-memory spans (name, start, end, parent, trace id), written
    once when the benchmark ends."""

    def __init__(self):
        self.items: list[dict] = []

    def add(self, name: str, start_ns: int, end_ns: int,
            parent: int | None = None, trace: str | None = None,
            **attrs) -> int:
        sid = len(self.items) + 1
        self.items.append({"id": sid, "name": name, "start_ns": start_ns,
                           "end_ns": end_ns, "parent": parent,
                           "trace": trace, **attrs})
        return sid

    def trigger(self, p: dict, trace: str) -> int:
        """A trigger span from a progress report, with its phases laid
        out as children in execution order from the trigger start."""
        start = progress_start_ns(p)
        dur = p["durationMs"]
        tid = self.add("trigger", start,
                       start + dur.get("triggerExecution", 0) * 1_000_000,
                       None, trace, batch=p["batchId"],
                       rows=p.get("numInputRows", 0))
        at = start
        for ph in PHASES:
            ms = dur.get(ph, 0)
            self.add(f"trigger.{ph}", at, at + ms * 1_000_000, tid, trace)
            at += ms * 1_000_000
        return tid

    def parent_at(self, name: str, t_ns: int) -> dict | None:
        """Innermost-by-start span called ``name`` covering ``t_ns``."""
        best = None
        for s in self.items:
            if (s["name"] == name and s["start_ns"] <= t_ns <= s["end_ns"]
                    and (best is None or s["start_ns"] > best["start_ns"])):
                best = s
        return best

    def self_ms(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus
        the part of it its children cover."""
        kids: dict[int, list[tuple[int, int]]] = {}
        for s in self.items:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(
                    (s["start_ns"], s["end_ns"]))
        out: dict[str, float] = {}
        for s in self.items:
            lo, hi = s["start_ns"], s["end_ns"]
            covered, reach = 0, lo
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, reach), min(b, hi)
                if b > a:
                    covered += b - a
                    reach = b
            out[s["name"]] = out.get(s["name"], 0.0) + (
                (hi - lo - covered) / 1e6)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.items, "self_ms": self.self_ms()}, f)
