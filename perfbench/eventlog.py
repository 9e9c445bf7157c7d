"""Fold a traced run's Spark event log into per-layer metrics.

Jobs carry the job group ``<workload>:<op>:<phase>`` the worker set
before each call, so every job, stage and task maps to one op and one
phase. Per operator family the fold reports, per steady pass:

- ``build_s`` / ``action_s``: time in the two phases, timed from outside;
- ``cold_s``: the same op's build plus action in the cold pass;
- ``build_jobs`` / ``action_jobs`` / ``tasks``;
- ``shuffle_write_bytes`` / ``spill_bytes`` (memory plus disk spill);
- ``executor_run_s`` / ``executor_cpu_s``: summed over tasks, so a
  Python kernel's wait shows as run time without CPU time;
- ``driver_s``: phase time covered by no Spark job;
- ``task_skew``: the worst stage's longest task over its median task.

``ops.*`` is the same fold over all of the workload's query ops.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

WARM_PHASES = ("build", "action")
FAMILY_METRICS = ("build_s", "action_s", "cold_s", "build_jobs", "action_jobs", "tasks",
                  "shuffle_write_bytes", "spill_bytes", "executor_run_s",
                  "executor_cpu_s", "driver_s", "task_skew")


def _events(log_dir: str):
    """Every event in the directory tree: Spark 4 writes a rolling
    ``eventlog_v2_<app>/events_<n>_<app>`` directory by default."""
    for d, _, files in os.walk(log_dir):
        for name in files:
            if not name.startswith("events_"):  # skip appstatus and .crc files
                continue
            with open(os.path.join(d, name)) as f:
                for line in f:
                    if line.strip():
                        yield json.loads(line)


def _union_within(intervals, lo: float, hi: float) -> float:
    covered, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            covered += b - a
            end = b
    return covered


def fold(log_dir: str, res: dict) -> dict[str, float]:
    jobs = {}  # job id -> {group, start, end}
    ends = {}
    stage_job = {}
    tasks = defaultdict(list)  # stage id -> [(duration, run, cpu, shuffle, spill)]
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
            jid = ev["Job ID"]
            jobs[jid] = {"group": group, "start": ev["Submission Time"] / 1000.0}
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            ends[ev["Job ID"]] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
            tasks[ev["Stage ID"]].append((
                (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0,
                m.get("Executor Run Time", 0) / 1000.0,
                m.get("Executor CPU Time", 0) / 1e9,
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
            ))

    by_group = defaultdict(list)
    for jid, job in jobs.items():
        job["end"] = ends.get(jid)
        by_group[job["group"]].append(jid)
    stages_of = defaultdict(list)
    for sid, jid in stage_job.items():
        stages_of[jid].append(sid)

    workload = res["workload"]
    spans = res["spans"]
    n_warm = res["passes"] - 1
    families = res["families"]
    groups = defaultdict(list)
    for op, fam in families.items():
        groups[fam].append(op)
    groups["ops"] = list(families)

    out: dict[str, float] = {}
    for fam, ops in groups.items():
        m = defaultdict(float)
        skew = 1.0
        for op in ops:
            for s in spans:
                if s["op"] != op:
                    continue
                if s["phase"].startswith("cold_"):
                    m["cold_s"] += s["end"] - s["start"]
                elif s["phase"] in WARM_PHASES:
                    m[f"{s['phase']}_s"] += (s["end"] - s["start"]) / n_warm
                    jids = by_group.get(f"{workload}:{op}:{s['phase']}", [])
                    ivs = [(jobs[j]["start"], jobs[j]["end"] or s["end"]) for j in jids]
                    busy = _union_within(ivs, s["start"], s["end"])
                    m["driver_s"] += (s["end"] - s["start"] - busy) / n_warm
            for phase in WARM_PHASES:
                for jid in by_group.get(f"{workload}:{op}:{phase}", []):
                    m[f"{phase}_jobs"] += 1 / n_warm
                    for sid in stages_of[jid]:
                        ts = tasks.get(sid, [])
                        m["tasks"] += len(ts) / n_warm
                        for dur, run, cpu, shuffle, spill in ts:
                            m["executor_run_s"] += run / n_warm
                            m["executor_cpu_s"] += cpu / n_warm
                            m["shuffle_write_bytes"] += shuffle / n_warm
                            m["spill_bytes"] += spill / n_warm
                        if len(ts) > 1:
                            med = statistics.median(t[0] for t in ts)
                            if med > 0:
                                skew = max(skew, max(t[0] for t in ts) / med)
        m["task_skew"] = skew
        for key in FAMILY_METRICS:
            out[f"{fam}.{key}"] = m[key]

    ticks = sum(1 for s in spans if s["op"] == "ingest" and s["phase"] == "tick")
    if ticks:
        out["ingest.tick_jobs"] = len(by_group.get(f"{workload}:ingest:tick", [])) / ticks
    return out
