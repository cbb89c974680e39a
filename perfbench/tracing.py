"""In-memory span tracer for the traced benchmark run.

A span records name, start, end and parent. Each span also owns a Spark
job group, set while the span is the innermost open one, so every Spark
job the wrapped call submits can be attributed to it afterwards through
the status tracker, and each job's stages read from the status store.

Spans are recorded from the benchmark's own files only: run.py's
``install_spans`` replaces public attributes of the engine's modules
(``catalog``, ``forecast``, ``pipeline``, ``relational``,
``runtime_cache``, ``telemetry``) with wrappers; the engine itself is
not modified. Nothing is written until the run ends.
"""

from __future__ import annotations

import functools
import os
import time
from contextlib import contextmanager

STAGE_FIELDS = {
    # stage-data accessor -> (metric name, scale to the metric's unit)
    "executorRunTime": ("exec_run_ms", 1.0),
    "executorCpuTime": ("exec_cpu_ms", 1e-6),
    "jvmGcTime": ("gc_ms", 1.0),
    "shuffleFetchWaitTime": ("shuffle_fetch_wait_ms", 1.0),
    "shuffleWriteBytes": ("shuffle_write_mb", 1.0 / 2**20),
    "inputBytes": ("scan_mb", 1.0 / 2**20),
}


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Spans of one benchmark process, kept in memory."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._tag = f"perfbench-{os.getpid()}"
        self.counts: dict[str, int] = {}

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
            "group": f"{self._tag}-{len(self.spans)}",
            "jobs": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                outer = self.spans[self._stack[-1]]
                self.sc.setJobGroup(outer["group"], outer["name"])
            else:
                self.sc.setJobGroup("", "")

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)

    # --- reading Spark's status store --------------------------------

    def collect_jobs(self) -> None:
        """Attach job and stage figures to every closed span not yet read.
        Waits for the listener bus first, so the store has seen the last
        stage of the last job."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for rec in self.spans:
            if rec["jobs"] is not None or rec["end"] is None:
                continue
            jobs = []
            for jid in sorted(tracker.getJobIdsForGroup(rec["group"])):
                jd = store.job(jid)
                sub, done = jd.submissionTime(), jd.completionTime()
                job = {
                    "id": jid,
                    "start": sub.get().getTime() / 1000.0 if sub.isDefined() else rec["start"],
                    "end": done.get().getTime() / 1000.0 if done.isDefined() else rec["end"],
                    "stages": 0,
                    "tasks": 0,
                    **{m: 0.0 for m, _ in STAGE_FIELDS.values()},
                }
                ids = jd.stageIds()
                for i in range(ids.size()):
                    st = store.lastStageAttempt(ids.apply(i))
                    if st.status().toString() == "SKIPPED":
                        continue
                    job["stages"] += 1
                    job["tasks"] += st.numCompleteTasks()
                    for field, (metric, scale) in STAGE_FIELDS.items():
                        job[metric] += getattr(st, field)() * scale
                jobs.append(job)
            rec["jobs"] = jobs

    # --- span arithmetic ---------------------------------------------

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def subtree(self, rec: dict) -> list[dict]:
        out, todo = [], [rec]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(self.children(cur))
        return out

    def named(self, name: str, under: dict | None = None) -> list[dict]:
        pool = self.subtree(under) if under is not None else self.spans
        return [s for s in pool if s["name"] == name]

    @staticmethod
    def duration(rec: dict) -> float:
        return rec["end"] - rec["start"]

    def self_time(self, rec: dict) -> float:
        kids = [(c["start"], c["end"]) for c in self.children(rec)]
        return self.duration(rec) - union_length(kids)

    def jobs_under(self, rec: dict) -> list[dict]:
        return [j for s in self.subtree(rec) for j in (s["jobs"] or [])]

    def spark_totals(self, rec: dict) -> dict[str, float]:
        jobs = self.jobs_under(rec)
        out = {"jobs": float(len(jobs)), "stages": 0.0, "tasks": 0.0}
        out.update({m: 0.0 for m, _ in STAGE_FIELDS.values()})
        for j in jobs:
            for k in out:
                if k != "jobs":
                    out[k] += j[k]
        return out

    def job_busy(self, rec: dict) -> float:
        """Wall time inside ``rec`` during which at least one of its jobs ran."""
        clipped = [
            (max(j["start"], rec["start"]), min(j["end"], rec["end"]))
            for j in self.jobs_under(rec)
        ]
        return union_length([(s, e) for s, e in clipped if e > s])

    def dump(self) -> list[dict]:
        """Spans as plain records (name, start, end, parent, job ids)."""
        return [
            {
                "id": s["id"],
                "name": s["name"],
                "parent": s["parent"],
                "start": s["start"],
                "end": s["end"],
                "jobs": [j["id"] for j in s["jobs"] or []],
            }
            for s in self.spans
        ]


def catalyst_phases(df) -> dict[str, float]:
    """Analysis / optimization / planning ms from the DataFrame's
    ``QueryPlanningTracker``. Phases the plan has not gone through yet
    read 0."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[f"{phase}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def storage_mb(spark) -> float:
    """Memory plus disk held by persisted RDDs, in MiB."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the Spark JVM (local mode runs one), in MiB."""
    from pyspark import SparkContext

    pid = SparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
