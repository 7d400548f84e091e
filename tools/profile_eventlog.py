#!/usr/bin/env python3
"""Attribute a Bench run's wall/CPU to queries, jobs, stages, and plan
nodes from a Spark event log — the profiling loop behind the R19
model-query surgery (no UI needed; works on the rolling zstd logs local
mode writes). The drivers label every job with its query name (the job
description), which fills the `query` column.

Capture a log (any `spark.*` JVM property reaches the session), then
read it:

    mkdir -p target/sparklogs
    SPARK_GRAFT_BENCH_RUNS=2 sbt -batch 'set javaOptions ++= Seq("-Dspark.eventLog.enabled=true", "-Dspark.eventLog.dir=target/sparklogs")' \
      "runMain graft.Bench q_geo_area"
    python3 tools/profile_eventlog.py target/sparklogs            # jobs+stages
    python3 tools/profile_eventlog.py target/sparklogs --sql [N]  # plan trees

Reading the output:
- a stage line sums its tasks' metrics: in_rec and in_kb are the records
  and bytes they read from the stage's input files (0 for a stage that
  reads only shuffle), run_ms is executor run time, cpu_ms the part of it
  on CPU. A stage whose run_ms is large for its in_kb pays a per-task or
  per-file fixed cost, not a per-byte one.
- shuffle_w_kb: the bytes a stage's tasks wrote to shuffle files; the
  per-query table sums them over every run in the log (divide by
  SPARK_GRAFT_BENCH_RUNS for per-run bytes).
- jobs/stages: with runs=2 the SECOND half of the job list is the warm
  run — cold stages carry JIT warmup (up to 10x CPU) and must be
  ignored. Each AQE stage materialization is one job; a long tail of
  tiny sequential jobs is stage-barrier latency, not compute.
- --sql: the final adaptive plan per execution with node metrics summed
  over ALL runs (halve for per-run). A WholeStageCodegen's duration and
  a HashAggregate's "time in aggregation build" INCLUDE pulling every
  non-codegen child above the stage input (windows, sort-aggregates),
  so attribute by differencing nested units, not by reading one number.
- smells this has caught: interpreted SortAggregate chains (max(struct)
  buffers are immutable -> no codegen), AQE broadcasting a corpus-sized
  relation (BroadcastExchange rows= in the millions), 2-task stages
  (AQE coalesced an underestimated shuffle), double execution of an
  uncached nondeterministic subtree (no ReusedExchange).
"""
import collections
import glob
import json
import os
import subprocess
import sys


def load_events(path):
    d = path
    if os.path.isdir(path) and not path.rstrip("/").startswith("eventlog_v2"):
        cands = sorted(glob.glob(os.path.join(path, "*")), key=os.path.getmtime)
        if cands and os.path.isdir(cands[-1]):
            d = cands[-1]
    files = sorted(glob.glob(os.path.join(d, "events_*"))) if os.path.isdir(d) else [d]
    for f in files:
        if f.endswith(".zstd"):
            data = subprocess.run(["zstd", "-dc", f],
                                  capture_output=True).stdout
            lines = data.decode(errors="ignore").splitlines()
        else:
            lines = open(f, errors="ignore").read().splitlines()
        for line in lines:
            try:
                yield json.loads(line)
            except ValueError:
                continue


def label(desc):
    """A job description on one line. Structured Streaming describes a
    micro-batch job as `<query name>\nid = ...\nrunId = ...\nbatch = 9`;
    that becomes `stream batch=9` (`stream[<name>] batch=9` for a named
    query). Any other multi-line description keeps its first line."""
    lines = desc.split("\n")
    if len(lines) > 1 and lines[-1].startswith("batch = "):
        name = lines[0].strip()
        return (f"stream[{name}]" if name else "stream") + \
            f" batch={lines[-1][len('batch = '):].strip()}"
    return lines[0]


def jobs_stages(events):
    jobs, stages = {}, []
    # per stage: executor run ms, executor cpu ns, input records, input bytes
    task = collections.defaultdict(lambda: [0, 0, 0, 0])
    shuffle_w = collections.defaultdict(int)
    for e in events:
        t = e.get("Event", "")
        if t == "SparkListenerJobStart":
            desc = label((e.get("Properties") or {}).get("spark.job.description") or "-")
            jobs[e["Job ID"]] = [e["Submission Time"], None,
                                 [s["Stage ID"] for s in e["Stage Infos"]],
                                 desc]
        elif t == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]][1] = e["Completion Time"]
        elif t == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            stages.append((si["Stage ID"], si["Stage Name"].split("\n")[0][:80],
                           si.get("Submission Time"), si.get("Completion Time"),
                           si["Number of Tasks"]))
        elif t == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            inp = m.get("Input Metrics") or {}
            t = task[e["Stage ID"]]
            t[0] += m.get("Executor Run Time", 0)
            t[1] += m.get("Executor CPU Time", 0)
            t[2] += inp.get("Records Read", 0)
            t[3] += inp.get("Bytes Read", 0)
            shuffle_w[e["Stage ID"]] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
    if not jobs:
        raise SystemExit("no jobs in log")
    query_of = {sid: desc for _, _, sts, desc in jobs.values() for sid in sts}
    width = max(len(d) for _, _, _, d in jobs.values())
    base = min(v[0] for v in jobs.values())
    print("== jobs (s offsets; 2nd half of the list = warm run) ==")
    for jid, (s, e2, sts, desc) in sorted(jobs.items()):
        if e2 is None:
            continue
        print(f"job {jid:3d}  {desc:{width}s}  start={(s - base) / 1000:8.3f}  "
              f"dur={(e2 - s) / 1000:6.3f}  stages={sorted(sts)}")
    print("== stages ==")
    per_query = collections.defaultdict(int)
    for sid, name, s, c, n in sorted(stages):
        if s is None:
            continue
        q = query_of.get(sid, '-')
        # a stream's batches add up under one key
        per_query[q.split(" batch=")[0]] += shuffle_w[sid]
        run_ms, cpu_ns, in_rec, in_b = task[sid]
        print(f"stage {sid:3d}  {q:{width}s}  "
              f"start={(s - base) / 1000:8.3f} "
              f"dur={(c - s) / 1000:6.3f} tasks={n:3d} "
              f"in_rec={in_rec:8d} in_kb={in_b / 1024:9.1f} "
              f"run_ms={run_ms:7d} cpu_ms={cpu_ns // 1000000:7d}  "
              f"shuffle_w_kb={shuffle_w[sid] / 1024:9.1f}  {name}")
    print("== shuffle write per query (KB, all runs in the log) ==")
    for q, b in sorted(per_query.items()):
        print(f"{q:{width}s}  {b / 1024:10.1f}")


def sql_plans(events, want=None):
    accv = collections.defaultdict(int)
    plans = {}
    for e in events:
        t = e.get("Event", "")
        if t.endswith("SQLExecutionStart"):
            plans[e["executionId"]] = [e["sparkPlanInfo"],
                                       e.get("description", "")[:60]]
        elif t.endswith("SQLAdaptiveExecutionUpdate"):
            plans.setdefault(e["executionId"], [None, ""])[0] = e["sparkPlanInfo"]
        elif t == "SparkListenerTaskEnd":
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                try:
                    accv[a["ID"]] += int(a["Update"])
                except (ValueError, TypeError):
                    continue
        elif t.endswith("DriverAccumUpdates"):
            for aid, v in e["accumUpdates"]:
                accv[aid] += v

    def walk(p, depth, out):
        ms = []
        for m in p.get("metrics", []):
            v = accv.get(m["accumulatorId"])
            if v is None:
                continue
            n, mt = m["name"], m.get("metricType")
            if mt == "timing" and v > 200:
                ms.append(f"{n}={v}ms")
            elif mt == "nsTiming" and v > 2e8:
                ms.append(f"{n}={v // 1000000}ms")
            elif "output rows" in n:
                ms.append(f"rows={v}")
        out.append("  " * depth + p["nodeName"] +
                   ("  [" + ", ".join(ms) + "]" if ms else ""))
        for c in p.get("children", []):
            walk(c, depth + 1, out)

    for eid in sorted(plans):
        if want is not None and eid != want:
            continue
        info, desc = plans[eid]
        if info is None:
            continue
        out = []
        walk(info, 0, out)
        print(f"===== execution {eid}: {desc}")
        print("\n".join(out))


def main():
    path = sys.argv[1] if len(sys.argv) > 1 else "target/sparklogs"
    if "--sql" in sys.argv:
        i = sys.argv.index("--sql")
        want = int(sys.argv[i + 1]) if len(sys.argv) > i + 1 else None
        sql_plans(load_events(path), want)
    else:
        jobs_stages(load_events(path))


if __name__ == "__main__":
    main()
