"""Per-layer figures from an uncompressed, non-rolling Spark event log.

Jobs are attributed by their description, which the benchmark sets to
``<workload>/<layer>/<query>/<build|action>`` before every call. Checkpoint
jobs are told apart by a stage named ``localCheckpoint at ...``.
"""

from __future__ import annotations

import json
from collections import defaultdict

MB = 1024.0 * 1024.0


def read(path: str) -> dict:
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_name: dict[int, str] = {}
    tasks: list[dict] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                desc = (ev.get("Properties") or {}).get("spark.job.description")
                jobs[jid] = {"desc": desc, "submit": ev.get("Submission Time"),
                             "end": None, "checkpoint": False}
                for st in ev.get("Stage Infos", []):
                    stage_job.setdefault(st["Stage ID"], jid)
                    stage_name[st["Stage ID"]] = st.get("Stage Name", "")
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev.get("Completion Time")
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                inp = m.get("Input Metrics") or {}
                tasks.append({
                    "stage": ev["Stage ID"],
                    "run_ms": m.get("Executor Run Time", 0),
                    "failed": (ev.get("Task End Reason") or {}).get("Reason")
                    != "Success",
                    "shuffle_read": sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "spill": m.get("Disk Bytes Spilled", 0),
                    "in_bytes": inp.get("Bytes Read", 0),
                    "in_rows": inp.get("Records Read", 0),
                })
    for sid, name in stage_name.items():
        if name.startswith("localCheckpoint at") and sid in stage_job:
            jobs[stage_job[sid]]["checkpoint"] = True
    for t in tasks:
        t["job"] = stage_job.get(t["stage"])
    return {"jobs": jobs, "tasks": tasks}


def plan_stats(log: dict, workload: str, wall: dict[str, float],
               build: dict[str, float], rows_out: dict[str, int],
               cores: int) -> dict[str, float]:
    """``plans.<field>`` over all of the workload's timed jobs and
    ``plans.<layer>.<field>`` per layer; ``wall``/``build`` hold each
    layer's span seconds (build + action / build only)."""
    jobs = log["jobs"]
    job_layer = {}
    for jid, j in jobs.items():
        parts = (j["desc"] or "").split("/")
        if len(parts) == 4 and parts[0] == workload:
            job_layer[jid] = parts[1]
    groups = {layer: {layer} for layer in wall}
    groups[None] = set(wall)
    out: dict[str, float] = {}
    for name, members in groups.items():
        lj = [j for jid, j in jobs.items() if job_layer.get(jid) in members]
        ts = [t for t in log["tasks"] if job_layer.get(t["job"]) in members]
        w = sum(wall[m] for m in members)
        b = sum(build.get(m, 0.0) for m in members)
        vals = _stats(lj, ts, w, b, sum(rows_out.get(m, 0) for m in members), cores)
        prefix = "plans." if name is None else f"plans.{name}."
        out.update({prefix + k: float(v) for k, v in vals.items()})
    return out


def _stats(lj: list[dict], ts: list[dict], wall: float, build: float,
           rows_out: int, cores: int) -> dict[str, float]:
    ck = [j for j in lj if j["checkpoint"]]
    per_stage: dict[int, list[float]] = defaultdict(list)
    for t in ts:
        per_stage[t["stage"]].append(t["run_ms"])
    skew = 0.0
    if per_stage:
        heavy = max(per_stage.values(), key=sum)
        mean = sum(heavy) / len(heavy)
        skew = max(heavy) / mean if mean > 0 else 1.0
    task_s = sum(t["run_ms"] for t in ts) / 1000.0
    return {
        "build_s": build,
        "action_s": max(0.0, wall - build),
        "jobs": len(lj),
        "stages": len(per_stage),
        "tasks": len(ts),
        "task_s": task_s,
        "cpu_util": task_s / (wall * cores) if wall > 0 else 0.0,
        # wall time not covered by task time spread over every core:
        # planning, job scheduling and driver-side work
        "non_task_s": max(0.0, wall - task_s / cores),
        "checkpoint_jobs": len(ck),
        "checkpoint_s": sum((j["end"] or j["submit"]) - j["submit"]
                            for j in ck) / 1000.0,
        "shuffle_write_mb": sum(t["shuffle_write"] for t in ts) / MB,
        "shuffle_read_mb": sum(t["shuffle_read"] for t in ts) / MB,
        "spill_mb": sum(t["spill"] for t in ts) / MB,
        "task_skew": skew,
        "rows_out": rows_out,
        "failed_tasks": sum(1 for t in ts if t["failed"]),
    }


def scans(log: dict, workload: str) -> tuple[float, float]:
    """(MB, rows) read from storage by the workload's jobs."""
    mine = {jid for jid, j in log["jobs"].items()
            if (j["desc"] or "").startswith(workload + "/")}
    ts = [t for t in log["tasks"] if t["job"] in mine]
    return (sum(t["in_bytes"] for t in ts) / MB,
            float(sum(t["in_rows"] for t in ts)))
