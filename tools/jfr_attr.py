#!/usr/bin/env python3
"""Attribute main-thread waits and CPU samples of a JFR recording to graft code.

Main-thread jdk.ThreadPark and jdk.JavaMonitorWait time (ms) and
jdk.ExecutionSample counts are charged to the innermost graft.* frame of
each event's stack, and split by the statement the stack belongs to: a
write statement (DML, INSERT, OPTIMIZE, a commit), a read statement
(SELECT through the catalog scan) or other.

    python3 tools/jfr_attr.py --make-jfc attr.jfc
    JAVA_TOOL_OPTIONS="-XX:FlightRecorderOptions=repository=<dir>,maxchunksize=2M,stackdepth=512 \\
      -XX:StartFlightRecording=settings=$PWD/attr.jfc,disk=true" \\
      python3 perfbench/run.py --workload table_mix --seed 1 --seconds 15
    python3 tools/jfr_attr.py <dir or .jfr files> [--top 25] [--thread PREFIX]

--make-jfc copies the JDK's profile.jfc with park/monitor thresholds of 1 ms
and Java method sampling every 5 ms. stackdepth=512 matters: at the default
depth of 64 the innermost frames under Spark's SQL stack hide every graft
frame. A recording repository holds one .jfr file per rotated chunk; pass the
directory to read them all (a run that ends in Runtime.halt never writes a
dump on exit, but the chunks stay).

--thread (default "main") is a thread-name PREFIX: every thread whose name
starts with it counts, so "stream execution thread for" attributes a streaming
query's micro-batch thread and "Executor task launch worker" every task thread.
"""
import argparse
import collections
import json
import os
import re
import subprocess
import sys
import xml.etree.ElementTree as ET

EVENTS = ("jdk.ThreadPark", "jdk.JavaMonitorWait", "jdk.ExecutionSample")
# checked in this order against every frame of a stack, outermost first
WRITE_RE = re.compile(
    r"TableMix\$Mix\.writeStmt$|^graft\.plans\.\w+Command\.run$|"
    r"^graft\.sources\.CommitLog\$?\.(append\w*|commit|mergeKeyed|delete\w*|"
    r"update\w*|optimize\w*|vacuum\w*)$")
READ_RE = re.compile(r"TableMix\$Mix\.readStmt$|^graft\.sources\.Graft\w*Scan\w*\.")


def java_home():
    out = subprocess.run(["java", "-XshowSettings:properties", "-version"],
                         capture_output=True, text=True).stderr
    m = re.search(r"java\.home = (.+)", out)
    if not m:
        sys.exit("jfr_attr: cannot find java.home")
    return m.group(1).strip()


def make_jfc(dest):
    tree = ET.parse(os.path.join(java_home(), "lib", "jfr", "profile.jfc"))
    for ev in tree.getroot().iter("event"):
        name = ev.get("name")
        for st in ev.iter("setting"):
            if name in ("jdk.ThreadPark", "jdk.JavaMonitorWait") and st.get("name") == "threshold":
                st.text = "1 ms"
            if name == "jdk.ExecutionSample" and st.get("name") == "period":
                st.text = "5 ms"
    tree.write(dest, encoding="UTF-8", xml_declaration=True)


def seconds(iso):
    """JFR's JSON durations are ISO-8601 ('PT0.0123S', 'PT1M2.5S')."""
    m = re.fullmatch(r"PT(?:(\d+)H)?(?:(\d+)M)?(?:([\d.]+)S)?", iso or "")
    if not m:
        return 0.0
    h, mi, s = m.groups()
    return int(h or 0) * 3600 + int(mi or 0) * 60 + float(s or 0)


def frame_name(f):
    return f["method"]["type"]["name"].replace("/", ".") + "." + f["method"]["name"]


def classify(names):
    outer_first = names[::-1]
    if any(WRITE_RE.search(n) for n in outer_first):
        return "write"
    if any(READ_RE.search(n) for n in outer_first):
        return "read"
    return "other"


def events_of(path):
    # `jfr print` shows 5 frames per stack unless told otherwise
    out = subprocess.run(["jfr", "print", "--json", "--stack-depth", "512",
                          "--events", ",".join(EVENTS), path],
                         capture_output=True, text=True)
    if out.returncode != 0:
        print(f"jfr_attr: skipping {path}: {out.stderr.strip()[:200]}", file=sys.stderr)
        return []
    return json.loads(out.stdout)["recording"]["events"]


def thread_of(ev):
    v = ev["values"]
    t = v.get("sampledThread") if ev["type"] == "jdk.ExecutionSample" else v.get("eventThread")
    return (t or {}).get("javaName")


def attribute(paths, thread):
    waits = collections.Counter()   # (stmt, frame) -> ms
    samples = collections.Counter()  # (stmt, frame) -> count
    truncated = 0
    for p in paths:
        for ev in events_of(p):
            if not (thread_of(ev) or "").startswith(thread):
                continue
            st = ev["values"].get("stackTrace") or {}
            truncated += bool(st.get("truncated"))
            names = [frame_name(f) for f in st.get("frames") or []]
            inner = next((n for n in names if n.startswith("graft.")), "(no graft frame)")
            key = (classify(names), inner)
            if ev["type"] == "jdk.ExecutionSample":
                samples[key] += 1
            else:
                waits[key] += 1000.0 * seconds(ev["values"].get("duration"))
    return waits, samples, truncated


def report(title, counter, unit, top):
    print(f"== {title}")
    for stmt in ("write", "read", "other"):
        rows = [(k[1], v) for k, v in counter.items() if k[0] == stmt]
        total = sum(v for _, v in rows)
        print(f"-- {stmt} statements: {total:.1f} {unit}")
        for name, v in sorted(rows, key=lambda kv: -kv[1])[:top]:
            share = 100.0 * v / total if total else 0.0
            print(f"   {v:10.1f} {unit} {share:5.1f}%  {name}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("inputs", nargs="*", help=".jfr files or directories of them")
    ap.add_argument("--make-jfc", metavar="PATH", help="write the recording settings and exit")
    ap.add_argument("--thread", default="main",
                    help="thread-name prefix (default: main)")
    ap.add_argument("--top", type=int, default=20)
    a = ap.parse_args()
    if a.make_jfc:
        make_jfc(a.make_jfc)
        return
    paths = []
    for i in a.inputs:
        if os.path.isdir(i):
            for d, _, fs in os.walk(i):
                paths += sorted(os.path.join(d, f) for f in fs if f.endswith(".jfr"))
        else:
            paths.append(i)
    if not paths:
        ap.error("no .jfr input")
    waits, samples, truncated = attribute(paths, a.thread)
    report(f"'{a.thread}*' threads park + monitor wait", waits, "ms", a.top)
    report(f"'{a.thread}*' threads CPU samples", samples, "n", a.top)
    if truncated:
        print(f"note: {truncated} stacks truncated; raise stackdepth", file=sys.stderr)


if __name__ == "__main__":
    main()
