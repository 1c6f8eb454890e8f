"""Where a Spark application's task time went, per job description and
per stage, read from its event log.

    python tools/stage_report.py EVENT_LOG [--group G] [--by description|group] [--cores N]

Prints two tables. The first has one row per job description (or job
group with ``--by group``): jobs, stages run, tasks, wall seconds (first
job submitted to last job ended) and task seconds (the sum of each
task's launch-to-finish time). The second has one row per stage that
ran: its key, tasks, wall, task seconds, the operators its RDDs were
built in, and a flag for a stage on fewer tasks than cores or on more
than twice as many. ``--group G`` keeps the jobs of one job group only,
for example one call of a job the caller ran under ``setJobGroup``.

The log must be written uncompressed: start the application with
``spark.eventLog.enabled=true``, ``spark.eventLog.dir=<dir>`` and
``spark.eventLog.compress=false``. Spark compresses event logs with zstd
by default, and this reader does not decompress them (it needs only the
standard library; Python's ``zstandard`` package is not a dependency).
The core count comes from ``--cores``, else from a ``local[N]`` master
recorded in the log.
"""

from __future__ import annotations

import argparse
import json
import re
import sys
from collections import defaultdict

DESCRIPTION = "spark.job.description"
GROUP = "spark.jobGroup.id"


def read_log(path: str) -> dict:
    """Jobs, stages and task seconds of one event log."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    task_s: dict[int, float] = defaultdict(float)
    master = None
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerEnvironmentUpdate":
                master = ev["Spark Properties"].get("spark.master")
            elif kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "description": props.get(DESCRIPTION),
                    "group": props.get(GROUP),
                    "start": ev["Submission Time"],
                    "end": None,
                    "stage_ids": ev["Stage IDs"],
                }
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                info = ev["Task Info"]
                task_s[ev["Stage ID"]] += (info["Finish Time"] - info["Launch Time"]) / 1e3
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                scopes = []
                for rdd in info.get("RDD Info", []):
                    name = json.loads(rdd["Scope"])["name"] if rdd.get("Scope") else None
                    if name and name not in scopes:
                        scopes.append(name)
                stages[info["Stage ID"]] = {
                    "tasks": info["Number of Tasks"],
                    "wall_s": (info["Completion Time"] - info["Submission Time"]) / 1e3,
                    "operators": ", ".join(reversed(scopes)),
                }
    for sid, st in stages.items():
        st["task_s"] = task_s[sid]
    return {"jobs": jobs, "stages": stages, "master": master}


def report(log: dict, by: str = "description", group: str | None = None,
           cores: int | None = None) -> str:
    """The two tables as text."""
    if cores is None:
        m = re.fullmatch(r"local\[(\d+)\]", log["master"] or "")
        cores = int(m.group(1)) if m else None
    keyed = defaultdict(list)  # key -> job ids
    stage_key = {}
    for jid in sorted(log["jobs"]):
        job = log["jobs"][jid]
        if group is not None and job["group"] != group:
            continue
        key = job[by] or "-"
        keyed[key].append(jid)
        for sid in job["stage_ids"]:
            # a stage reused by a later job is skipped there; it ran in
            # the first job that lists it
            stage_key.setdefault(sid, key)
    stages = log["stages"]
    lines = [f"cores: {cores if cores is not None else 'unknown'}", "",
             f"{by:<32} {'jobs':>5} {'stages':>6} {'tasks':>6} {'wall_s':>8} {'task_s':>8}"]
    for key, jids in keyed.items():
        ran = [s for s, k in stage_key.items() if k == key and s in stages]
        ends = [log["jobs"][j]["end"] for j in jids if log["jobs"][j]["end"]]
        wall = (max(ends) - min(log["jobs"][j]["start"] for j in jids)) / 1e3 if ends else 0.0
        lines.append(
            f"{key[:32]:<32} {len(jids):>5} {len(ran):>6} "
            f"{sum(stages[s]['tasks'] for s in ran):>6} {wall:>8.2f} "
            f"{sum(stages[s]['task_s'] for s in ran):>8.2f}")
    lines += ["", f"{'stage':>5} {by:<24} {'tasks':>5} {'wall_s':>7} {'task_s':>7} "
              f"{'flag':<10} operators"]
    for sid in sorted(s for s in stage_key if s in stages):
        st = stages[sid]
        flag = ""
        if cores is not None and st["tasks"] < cores:
            flag = "1 task" if st["tasks"] == 1 else "< cores"
        elif cores is not None and st["tasks"] > 2 * cores:
            flag = "> 2x cores"
        lines.append(
            f"{sid:>5} {stage_key[sid][:24]:<24} {st['tasks']:>5} {st['wall_s']:>7.2f} "
            f"{st['task_s']:>7.2f} {flag:<10} {st['operators'][:70]}")
    return "\n".join(lines)


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("event_log")
    parser.add_argument("--group", default=None, help="keep the jobs of this job group only")
    parser.add_argument("--by", choices=("description", "group"), default="description")
    parser.add_argument("--cores", type=int, default=None)
    args = parser.parse_args(argv)
    print(report(read_log(args.event_log), args.by, args.group, args.cores))
    return 0


if __name__ == "__main__":
    sys.exit(main())
