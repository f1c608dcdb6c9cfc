#!/usr/bin/env python3
"""Per-stage scheduling phases from an uncompressed Spark event log.

Stages are grouped by their name (the call site, e.g. "start at
Ingest.scala:76") and kind: [result] for the last stage of its job, [map]
for the shuffle-map stages before it. For each group the tool prints the
median over its stage attempts of:

  launch_ms   stage submission -> first task launch (driver scheduling,
              task serialization on the DAG-scheduler thread)
  deser_ms    task deserialization (Executor Deserialize Time, median task)
  run_ms      task run time (Executor Run Time, median task)
  after_ms    end of the stage's job -> end of its SQL execution (driver
              work after the job inside the same statement, e.g. a commit
              protocol); "-" when the job ran outside a SQL execution

Record a log by passing Spark the event-log settings as system properties,
then point the tool at the log file (or a directory holding one):

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.compress=false \\
      -Dspark.eventLog.dir=file:///tmp/evlog" \\
      python3 perfbench/run.py --workload ingest --seed 1 --seconds 15
    python3 tools/evlog_phases.py /tmp/evlog [--min-stages 5] [--top 20]
    python3 tools/evlog_phases.py --selftest
"""
import argparse
import json
import os
import statistics
import sys

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"


def median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else None


def phases(lines):
    """Rows (name, stages, launch_ms, deser_ms, run_ms, after_ms) per stage name."""
    stages = {}      # (stage id, attempt) -> dict
    job_of = {}      # stage id -> job id
    last_of = {}     # job id -> its result stage id (the highest)
    exec_of = {}     # job id -> SQL execution id
    job_end = {}     # job id -> completion time
    sql_end = {}     # execution id -> end time
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerStageSubmitted":
            si = ev["Stage Info"]
            st = stages.setdefault((si["Stage ID"], si.get("Stage Attempt ID", 0)),
                                   {"launch": [], "deser": [], "run": []})
            st["name"] = si.get("Stage Name", "?")
            st["submit"] = si.get("Submission Time")
        elif kind in ("SparkListenerTaskStart", "SparkListenerTaskEnd"):
            st = stages.setdefault((ev["Stage ID"], ev.get("Stage Attempt ID", 0)),
                                   {"launch": [], "deser": [], "run": []})
            ti = ev.get("Task Info", {})
            if kind == "SparkListenerTaskStart":
                st["launch"].append(ti.get("Launch Time"))
            else:
                tm = ev.get("Task Metrics") or {}
                st["deser"].append(tm.get("Executor Deserialize Time"))
                st["run"].append(tm.get("Executor Run Time"))
        elif kind == "SparkListenerJobStart":
            for sid in ev.get("Stage IDs", []):
                job_of[sid] = ev["Job ID"]
            last_of[ev["Job ID"]] = max(ev.get("Stage IDs") or [-1])
            eid = (ev.get("Properties") or {}).get("spark.sql.execution.id")
            if eid is not None:
                exec_of[ev["Job ID"]] = int(eid)
        elif kind == "SparkListenerJobEnd":
            job_end[ev["Job ID"]] = ev.get("Completion Time")
        elif kind == SQL_END:
            sql_end[ev["executionId"]] = ev.get("time")
    groups = {}
    for (sid, _), st in stages.items():
        if "submit" not in st:
            continue
        launches = [t for t in st["launch"] if t is not None]
        launch = min(launches) - st["submit"] if launches and st["submit"] else None
        job = job_of.get(sid)
        after = None
        if job in exec_of and job in job_end and exec_of[job] in sql_end:
            after = sql_end[exec_of[job]] - job_end[job]
        kind = "result" if last_of.get(job) == sid else "map"
        g = groups.setdefault(f"{st['name']} [{kind}]", {"n": 0, "launch": [], "deser": [], "run": [],
                                           "after": []})
        g["n"] += 1
        g["launch"].append(launch)
        g["deser"].append(median(st["deser"]))
        g["run"].append(median(st["run"]))
        g["after"].append(after)
    return sorted(((name, g["n"], median(g["launch"]), median(g["deser"]),
                    median(g["run"]), median(g["after"])) for name, g in groups.items()),
                  key=lambda r: (-r[1], r[0]))


def log_files(path):
    """The event-log files under `path`. Spark 4 writes one directory per
    application (eventlog_v2_<app>/events_<n>_<app>, rolled in parts) beside
    an empty appstatus marker; an older or single-file log is one file."""
    if not os.path.isdir(path):
        return [path]
    out = []
    for d, _, fs in os.walk(path):
        out += [os.path.join(d, f) for f in fs
                if not f.startswith((".", "appstatus_")) and not f.endswith(".crc")]
    return sorted(out)


def fmt(v):
    return "-" if v is None else f"{v:.1f}"


def report(rows, min_stages, top):
    print(f"{'stages':>6} {'launch_ms':>9} {'deser_ms':>8} {'run_ms':>8} {'after_ms':>8}  stage name")
    for name, n, launch, deser, run, after in [r for r in rows if r[1] >= min_stages][:top]:
        print(f"{n:6d} {fmt(launch):>9} {fmt(deser):>8} {fmt(run):>8} {fmt(after):>8}  {name}")


def selftest():
    ev = [
        {"Event": SQL_START, "executionId": 7, "time": 900},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [3, 4],
         "Properties": {"spark.sql.execution.id": "7"}},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 3, "Stage Attempt ID": 0, "Stage Name": "a",
                        "Submission Time": 1000}},
        {"Event": "SparkListenerTaskStart", "Stage ID": 3, "Stage Attempt ID": 0,
         "Task Info": {"Launch Time": 1020}},
        {"Event": "SparkListenerTaskStart", "Stage ID": 3, "Stage Attempt ID": 0,
         "Task Info": {"Launch Time": 1030}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Stage Attempt ID": 0,
         "Task Info": {"Launch Time": 1020},
         "Task Metrics": {"Executor Deserialize Time": 4, "Executor Run Time": 10}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Stage Attempt ID": 0,
         "Task Info": {"Launch Time": 1030},
         "Task Metrics": {"Executor Deserialize Time": 6, "Executor Run Time": 30}},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 4, "Stage Attempt ID": 0, "Stage Name": "a",
                        "Submission Time": 1100}},
        {"Event": "SparkListenerTaskStart", "Stage ID": 4, "Stage Attempt ID": 0,
         "Task Info": {"Launch Time": 1140}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 4, "Stage Attempt ID": 0,
         "Task Info": {"Launch Time": 1140},
         "Task Metrics": {"Executor Deserialize Time": 8, "Executor Run Time": 50}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1200},
        {"Event": SQL_END, "executionId": 7, "time": 1208},
        # a job outside any SQL execution
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [5], "Properties": {}},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 5, "Stage Attempt ID": 0, "Stage Name": "b",
                        "Submission Time": 2000}},
        {"Event": "SparkListenerTaskStart", "Stage ID": 5, "Stage Attempt ID": 0,
         "Task Info": {"Launch Time": 2005}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 5, "Stage Attempt ID": 0,
         "Task Info": {"Launch Time": 2005},
         "Task Metrics": {"Executor Deserialize Time": 1, "Executor Run Time": 2}},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 2010},
    ]
    rows = phases(json.dumps(e) for e in ev)
    # stage 3 (map): launch 20, deser median 5, run median 20; stage 4
    # (result): 40, 8, 50
    assert rows == [("a [map]", 1, 20.0, 5.0, 20.0, 8.0), ("a [result]", 1, 40.0, 8.0, 50.0, 8.0),
                    ("b [result]", 1, 5.0, 1.0, 2.0, None)], rows
    print("evlog_phases selftest: ok")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("log", nargs="?", help="event-log file, or a directory of them")
    ap.add_argument("--min-stages", type=int, default=1,
                    help="hide stage names seen fewer times")
    ap.add_argument("--top", type=int, default=20)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        selftest()
        return
    if not a.log:
        ap.error("no event log given")
    for f in log_files(a.log):
        if f.endswith((".lz4", ".zstd", ".snappy", ".lzf")):
            sys.exit(f"evlog_phases: {f} is compressed; record with "
                     "-Dspark.eventLog.compress=false")
        print(f"== {f}")
        with open(f) as fh:
            report(phases(fh), a.min_stages, a.top)


if __name__ == "__main__":
    main()
