#!/usr/bin/env python3
"""Per-job and per-stage breakdown of Spark event logs.

Usage:
    python3 scripts/stage_breakdown.py <event log>... [--group REGEX]

Each <event log> is one event-log file (plain JSON lines, or `.zstd`, read
through the `zstd` binary) or a rolling event-log directory
(`eventlog_v2_*`), whose `events_*` files are read in order; every log
given is reported on its own, under a `== <path>` header (a perfbench
corpus_5x first run leaves two: the ScaleUp JVM's and the benchmark's).
`--group` keeps only the jobs whose job group matches REGEX; perfbench
names each measured query's jobs `<query>#<pass>`, so `--group '#1$'`
selects the first measured pass and drops the warm-up.

For each job it prints its group, its description (`spark.job.description`:
the query name under perfbench, or a phase label such as `q282/coarse r1`
that `graft.Caches.bounded` sets around its collect) and the wall time,
and for each of its stages the wall
time, task count, task seconds (executor run time), CPU seconds, shuffle
records written and read, and the task result bytes (total and largest
task). A stage whose tasks return megabytes to the driver is a collect;
under a BroadcastExchange it is a broadcast build.

Produce a log by passing Spark's event-log settings as JVM system
properties, for example for a perfbench run:

    mkdir -p /tmp/ev
    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=file:/tmp/ev" \\
        python3 perfbench/run.py --workload corpus_5x --seed 2 --seconds 5 --trace 0
    python3 scripts/stage_breakdown.py /tmp/ev/eventlog_v2_* --group '#1$'
"""
import argparse
import glob
import json
import os
import re
import subprocess
import sys


def event_lines(path):
    files = [path]
    if os.path.isdir(path):
        # rolling logs: events_<n>_<app>[.codec], in n order
        files = sorted(glob.glob(os.path.join(path, "events_*")),
                       key=lambda f: int(os.path.basename(f).split("_")[1]))
    for f in files:
        if f.endswith(".zstd") or f.endswith(".zst"):
            text = subprocess.run(["zstd", "-dc", f], check=True, stdout=subprocess.PIPE).stdout
            yield from text.decode("utf-8").splitlines()
        else:
            with open(f, encoding="utf-8") as fh:
                yield from fh


def load(path):
    jobs, stages = {}, {}
    for line in event_lines(path):
        if not line.strip():
            continue
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = {"start": e["Submission Time"], "end": None,
                                 "group": props.get("spark.jobGroup.id") or "",
                                 "desc": props.get("spark.job.description") or "",
                                 "stages": e["Stage IDs"]}
        elif kind == "SparkListenerJobEnd":
            jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            s = stages.setdefault(info["Stage ID"], new_stage())
            s["name"] = info["Stage Name"]
            s["start"] = info.get("Submission Time")
            s["end"] = info.get("Completion Time")
        elif kind == "SparkListenerTaskEnd":
            s = stages.setdefault(e["Stage ID"], new_stage())
            m = e.get("Task Metrics") or {}
            s["tasks"] += 1
            s["task_ms"] += m.get("Executor Run Time", 0)
            s["cpu_ns"] += m.get("Executor CPU Time", 0)
            s["result_bytes"] += m.get("Result Size", 0)
            s["max_result"] = max(s["max_result"], m.get("Result Size", 0))
            s["shuffle_written"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Records Written", 0)
            s["shuffle_read"] += (m.get("Shuffle Read Metrics") or {}).get("Total Records Read", 0)
    return jobs, stages


def new_stage():
    return {"name": "?", "start": None, "end": None, "tasks": 0,
            "task_ms": 0, "cpu_ns": 0, "result_bytes": 0, "max_result": 0,
            "shuffle_written": 0, "shuffle_read": 0}


def seconds(start, end):
    return (end - start) / 1000 if start is not None and end is not None else float("nan")


def report(path, group):
    """Print one log's breakdown; False when no job matched."""
    jobs, stages = load(path)
    keep = sorted(j for j, v in jobs.items() if group is None or re.search(group, v["group"]))
    if not keep:
        print("no job matched")
        return False
    head = f"{'stage':>7} {'wall_s':>7} {'tasks':>5} {'task_s':>7} {'cpu_s':>7} " \
           f"{'shuf_w':>9} {'shuf_r':>9} {'result_mb':>9} {'max_task_mb':>11}  name"
    total = {"task_ms": 0, "cpu_ns": 0, "result_bytes": 0, "shuffle_written": 0, "tasks": 0}
    seen = set()
    for j in keep:
        job = jobs[j]
        print(f"job {j} [{job['group']}] \"{job['desc']}\" wall {seconds(job['start'], job['end']):.2f} s")
        print(head)
        for sid in sorted(job["stages"]):
            s = stages.get(sid)
            if s is None or s["tasks"] == 0:
                continue  # skipped stage: its output was reused
            print(f"{sid:>7} {seconds(s['start'], s['end']):>7.2f} {s['tasks']:>5} "
                  f"{s['task_ms'] / 1000:>7.2f} {s['cpu_ns'] / 1e9:>7.2f} "
                  f"{s['shuffle_written']:>9} {s['shuffle_read']:>9} "
                  f"{s['result_bytes'] / 2**20:>9.2f} {s['max_result'] / 2**20:>11.2f}  {s['name']}")
            if sid not in seen:
                seen.add(sid)
                for k in total:
                    total[k] += s[k]
    first = min(jobs[j]["start"] for j in keep)
    last = max(jobs[j]["end"] or jobs[j]["start"] for j in keep)
    print(f"total: {len(keep)} jobs, {len(seen)} stages, {total['tasks']} tasks, "
          f"first job start to last job end {(last - first) / 1000:.2f} s, "
          f"task {total['task_ms'] / 1000:.2f} s, cpu {total['cpu_ns'] / 1e9:.2f} s, "
          f"shuffle records written {total['shuffle_written']}, "
          f"task results {total['result_bytes'] / 2**20:.2f} MiB")
    return True


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("logs", nargs="+", metavar="log")
    ap.add_argument("--group", help="keep jobs whose job group matches this regex")
    a = ap.parse_args()
    matched = False
    for path in a.logs:
        print(f"== {path}")
        matched = report(path, a.group) or matched
    if not matched:
        sys.exit("stage_breakdown: no job matched")


if __name__ == "__main__":
    main()
