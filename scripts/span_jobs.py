#!/usr/bin/env python3
"""Attribute Spark jobs to the benchmark's spans.

    python3 scripts/span_jobs.py <event log> <spans.jsonl> [--jobs] [--name SPAN]

<event log> is an uncompressed Spark event log (spark.eventLog.enabled=true,
spark.eventLog.compress=false) of a `perfbench/run.py --trace 1` run — a file,
or the `eventlog_v2_*` directory a rolling log writes — and
<spans.jsonl> the span file that run wrote. Each job goes to the innermost span
that was open at its submission time (span and event times are both epoch ms
from the same JVM). Prints, per span name: calls, jobs, tasks of completed
stages, and summed job wall seconds. --jobs also lists every job of the spans
named by --name (all spans when absent), with its stage and task counts.
"""
import argparse
import collections
import json
import os


def event_lines(path):
    if not os.path.isdir(path):
        files = [path]
    else:
        # rolling log: events_<n>_<app id>[.inprogress], in n order
        names = [n for n in os.listdir(path) if n.startswith("events_")]
        files = [os.path.join(path, n) for n in sorted(names, key=lambda n: int(n.split("_")[1]))]
    for p in files:
        with open(p) as f:
            yield from f


def load_events(path):
    jobs, stage_tasks = {}, {}
    for line in event_lines(path):
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[e["Job ID"]] = {"id": e["Job ID"], "start": e["Submission Time"], "end": None,
                                 "stages": e.get("Stage IDs", [])}
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            stage_tasks[info["Stage ID"]] = info["Number of Tasks"]
    for j in jobs.values():
        done = [s for s in j["stages"] if s in stage_tasks]
        j["stages_run"] = len(done)
        j["tasks"] = sum(stage_tasks[s] for s in done)
    return sorted(jobs.values(), key=lambda j: j["start"])


def load_spans(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def innermost(spans, t):
    open_then = [s for s in spans if s["start_ms"] <= t and (s["end_ms"] < 0 or t <= s["end_ms"])]
    return min(open_then, key=lambda s: (s["end_ms"] - s["start_ms"], -s["id"]), default=None)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("events")
    ap.add_argument("spans")
    ap.add_argument("--jobs", action="store_true")
    ap.add_argument("--name")
    a = ap.parse_args()
    jobs, spans = load_events(a.events), load_spans(a.spans)
    calls = collections.Counter(s["name"] for s in spans)
    agg = collections.defaultdict(lambda: [0, 0, 0.0])
    listed = []
    for j in jobs:
        s = innermost(spans, j["start"])
        name = s["name"] if s else "(no span)"
        wall = ((j["end"] or j["start"]) - j["start"]) / 1000.0
        a_ = agg[name]
        a_[0] += 1
        a_[1] += j["tasks"]
        a_[2] += wall
        if a.jobs and (a.name is None or a.name == name):
            listed.append((name, s["id"] if s else -1, j, wall))
    print(f"{'span':<40} {'calls':>6} {'jobs':>6} {'tasks':>7} {'job_s':>8}")
    for name in sorted(agg, key=lambda n: -agg[n][2]):
        n_jobs, tasks, wall = agg[name]
        print(f"{name:<40} {calls.get(name, 0):>6} {n_jobs:>6} {tasks:>7} {wall:>8.2f}")
    for name, sid, j, wall in listed:
        print(f"  job {j['id']:>5} span {name}#{sid} stages {j['stages_run']} "
              f"tasks {j['tasks']} wall {wall:.3f}s")


if __name__ == "__main__":
    main()
