#!/usr/bin/env python3
"""Attribute main-thread waits, samples and sleeps of a JFR recording to graft code.

Main-thread jdk.ThreadPark and jdk.JavaMonitorWait time (ms), and the
counts of jdk.ExecutionSample, jdk.NativeMethodSample and jdk.ThreadSleep
events, are charged to the innermost graft.* frame of each event's stack,
and split by the statement the stack belongs to: a write statement (DML,
INSERT, OPTIMIZE, a commit), a read statement (SELECT through the catalog
scan) or other.

    python3 tools/jfr_attr.py --make-jfc attr.jfc
    JAVA_TOOL_OPTIONS="-XX:FlightRecorderOptions=repository=<dir>,maxchunksize=2M,stackdepth=512 \\
      -XX:StartFlightRecording=settings=$PWD/attr.jfc,disk=true" \\
      python3 perfbench/run.py --workload table_mix --seed 1 --seconds 15
    python3 tools/jfr_attr.py <dir or .jfr files> [--top 25] [--thread PREFIX] [--leaf [K]]
    python3 tools/jfr_attr.py --selftest

--make-jfc copies the JDK's profile.jfc with park/monitor/sleep thresholds of
1 ms and Java method sampling every 5 ms. stackdepth=512 matters: at the default
depth of 64 the innermost frames under Spark's SQL stack hide every graft
frame. A recording repository holds one .jfr file per rotated chunk; pass the
directory to read them all (a run that ends in Runtime.halt never writes a
dump on exit, but the chunks stay).

--thread (default "main") is a thread-name PREFIX: every thread whose name
starts with it counts, so "stream execution thread for" attributes a streaming
query's micro-batch thread and "Executor task launch worker" every task thread.

--leaf [K] (default K=5) looks the other way, below the graft code: per
innermost graft frame it prints the K library frames under it that the most
events pass through (each frame counted once per stack, weighted like the
frame's total: ms for waits, 1 per counted event), with their share of the
graft frame's total. A hotspot such as Configuration.loadResources under
GroupParquetReader.<init> then shows up by name.
"""
import argparse
import collections
import json
import os
import re
import subprocess
import sys
import xml.etree.ElementTree as ET

WAITS = ("jdk.ThreadPark", "jdk.JavaMonitorWait")
# counted per stack: event type -> report title
COUNTS = {"jdk.ExecutionSample": "CPU samples",
          "jdk.NativeMethodSample": "native-method samples",
          "jdk.ThreadSleep": "sleeps"}
EVENTS = WAITS + tuple(COUNTS)
SAMPLED = ("jdk.ExecutionSample", "jdk.NativeMethodSample")
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
            if name in WAITS + ("jdk.ThreadSleep",) and st.get("name") == "threshold":
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
    t = v.get("sampledThread") if ev["type"] in SAMPLED else v.get("eventThread")
    return (t or {}).get("javaName")


def attribute(events, thread):
    """(waits, counts, truncated): waits maps (stmt, frame) to ms, counts
    maps each COUNTS event type to a (stmt, frame) -> n counter."""
    waits = collections.Counter()
    counts = {t: collections.Counter() for t in COUNTS}
    truncated = 0
    for ev in events:
        if not (thread_of(ev) or "").startswith(thread):
            continue
        st = ev["values"].get("stackTrace") or {}
        truncated += bool(st.get("truncated"))
        names = [frame_name(f) for f in st.get("frames") or []]
        inner = next((n for n in names if n.startswith("graft.")), "(no graft frame)")
        key = (classify(names), inner)
        if ev["type"] in COUNTS:
            counts[ev["type"]][key] += 1
        else:
            waits[key] += 1000.0 * seconds(ev["values"].get("duration"))
    return waits, counts, truncated


def attribute_leaf(events, thread):
    """Per category (WAITS together, then each COUNTS type): the total per
    innermost graft frame, and per such frame a Counter of every frame
    under it (leaf side), each counted once per stack."""
    cats = ("waits",) + tuple(COUNTS)
    totals = {c: collections.Counter() for c in cats}
    under = {c: collections.defaultdict(collections.Counter) for c in cats}
    for ev in events:
        if not (thread_of(ev) or "").startswith(thread):
            continue
        names = [frame_name(f) for f in (ev["values"].get("stackTrace") or {}).get("frames") or []]
        gi = next((i for i, n in enumerate(names) if n.startswith("graft.")), len(names))
        inner = names[gi] if gi < len(names) else "(no graft frame)"
        if ev["type"] in COUNTS:
            cat, w = ev["type"], 1.0
        else:
            cat, w = "waits", 1000.0 * seconds(ev["values"].get("duration"))
        totals[cat][inner] += w
        for n in dict.fromkeys(names[:gi]):
            under[cat][inner][n] += w
    return totals, under


def report_leaf(thread, totals, under, top, k, out=sys.stdout):
    titles = {"waits": ("park + monitor wait", "ms")}
    titles.update((t, (title, "n")) for t, title in COUNTS.items())
    for cat, (title, unit) in titles.items():
        out.write(f"== '{thread}*' threads {title}: library frames under each innermost graft frame\n")
        for inner, total in totals[cat].most_common(top):
            out.write(f"   {total:10.1f} {unit}  {inner}\n")
            for name, v in under[cat][inner].most_common(k):
                share = 100.0 * v / total if total else 0.0
                out.write(f"       {v:10.1f} {unit} {share:5.1f}%  {name}\n")


def report(title, counter, unit, top, out=sys.stdout):
    out.write(f"== {title}\n")
    for stmt in ("write", "read", "other"):
        rows = [(k[1], v) for k, v in counter.items() if k[0] == stmt]
        total = sum(v for _, v in rows)
        out.write(f"-- {stmt} statements: {total:.1f} {unit}\n")
        for name, v in sorted(rows, key=lambda kv: -kv[1])[:top]:
            share = 100.0 * v / total if total else 0.0
            out.write(f"   {v:10.1f} {unit} {share:5.1f}%  {name}\n")


def report_all(thread, waits, counts, top, out=sys.stdout):
    report(f"'{thread}*' threads park + monitor wait", waits, "ms", top, out)
    for t, title in COUNTS.items():
        report(f"'{thread}*' threads {title}", counts[t], "n", top, out)


def selftest():
    import io

    def ev(kind, thread, frames, duration=None):
        values = {"stackTrace": {"truncated": False, "frames": [
            {"method": {"type": {"name": c.replace(".", "/")}, "name": m}}
            for c, m in (f.rsplit(".", 1) for f in frames)]}}
        values["sampledThread" if kind in SAMPLED else "eventThread"] = {"javaName": thread}
        if duration:
            values["duration"] = duration
        return {"type": kind, "values": values}

    # stacks innermost frame first, as JFR prints them
    dml = ["jdk.internal.misc.Unsafe.park", "graft.sources.CommitLog$.runJob",
           "graft.sources.CommitLog$.rowLevel", "graft.sources.CommitLog$.delete",
           "graft.bench.TableMix$Mix.writeStmt"]
    read = ["sun.nio.ch.FileDispatcherImpl.read0", "graft.sources.GraftBatchScan.planInputPartitions",
            "graft.bench.TableMix$Mix.readStmt"]
    events = [
        ev("jdk.ThreadPark", "main", dml, "PT0.25S"),
        ev("jdk.ThreadPark", "main", dml, "PT1M0.5S"),
        ev("jdk.JavaMonitorWait", "main", ["java.lang.Object.wait"], "PT0.01S"),
        ev("jdk.ThreadPark", "dag-scheduler-event-loop", dml, "PT9S"),
        ev("jdk.ExecutionSample", "main", dml),
        ev("jdk.NativeMethodSample", "main", read),
        ev("jdk.NativeMethodSample", "main", read),
        ev("jdk.NativeMethodSample", "other", read),
        ev("jdk.ThreadSleep", "main", ["java.lang.Thread.sleep"] + dml[1:], "PT0.02S"),
    ]
    waits, counts, truncated = attribute(events, "main")
    w = ("write", "graft.sources.CommitLog$.runJob")
    r = ("read", "graft.sources.GraftBatchScan.planInputPartitions")
    buf = io.StringIO()
    report_all("main", waits, counts, 5, buf)
    text = buf.getvalue()
    checks = [
        ("durations", seconds("PT1H2M3.5S") == 3723.5 and seconds(None) == 0.0),
        ("waits by innermost graft frame", abs(waits[w] - 60750.0) < 1e-6),
        ("no graft frame", waits[("other", "(no graft frame)")] == 10.0),
        ("thread prefix filters", sum(counts["jdk.NativeMethodSample"].values()) == 2),
        ("native samples", counts["jdk.NativeMethodSample"][r] == 2),
        ("sleeps", counts["jdk.ThreadSleep"][w] == 1),
        ("cpu samples", counts["jdk.ExecutionSample"][w] == 1),
        ("report", "native-method samples" in text and "== 'main*' threads sleeps" in text
         and "-- read statements: 2.0 n" in text),
        ("untruncated", truncated == 0),
    ]
    # --leaf: library frames under the innermost graft frame, once per stack
    conf = ["org.apache.hadoop.conf.Configuration.loadResource",
            "org.apache.hadoop.conf.Configuration.loadResources",
            "org.apache.hadoop.conf.Configuration.getProps"]
    init = ["org.apache.parquet.hadoop.ParquetReader$Builder.<init>",
            "graft.sources.GroupParquetReader.<init>",
            "graft.sources.TableFileReaderFactory.createReader",
            "org.apache.spark.executor.Executor$TaskRunner.run"]
    task = "Executor task launch worker for task 1.0"
    leaf_events = [
        ev("jdk.ExecutionSample", task, ["com.ctc.wstx.sr.BasicStreamReader.next"] + conf + init),
        # a recursive frame counts once per stack
        ev("jdk.ExecutionSample", task, conf[:2] + conf + init),
        ev("jdk.ExecutionSample", task, ["org.apache.parquet.io.RecordReaderImplementation.read"]
           + init[1:]),
        ev("jdk.ThreadPark", task, ["jdk.internal.misc.Unsafe.park"] + conf + init, "PT0.004S"),
        ev("jdk.ExecutionSample", "main", conf + init),
    ]
    totals, under = attribute_leaf(leaf_events, "Executor task launch worker")
    g = "graft.sources.GroupParquetReader.<init>"
    cpu = under["jdk.ExecutionSample"][g]
    buf = io.StringIO()
    report_leaf("Executor task launch worker", totals, under, 5, 2, buf)
    leaf_text = buf.getvalue()
    checks += [
        ("leaf totals", totals["jdk.ExecutionSample"][g] == 3.0 and abs(totals["waits"][g] - 4.0) < 1e-6),
        ("leaf frames once per stack", cpu[conf[1]] == 2.0 and cpu[conf[2]] == 2.0),
        ("leaf side only", "org.apache.spark.executor.Executor$TaskRunner.run" not in cpu),
        ("leaf waits", abs(under["waits"][g]["jdk.internal.misc.Unsafe.park"] - 4.0) < 1e-6),
        ("leaf report", "    2.0 n  66.7%  org.apache.hadoop.conf.Configuration.loadResources"
         in leaf_text and "RecordReaderImplementation" not in leaf_text),
    ]
    for name, ok in checks:
        print(("ok   " if ok else "FAIL ") + name)
    if not all(ok for _, ok in checks):
        raise SystemExit(1)
    print('{"selftest":"passed"}')


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("inputs", nargs="*", help=".jfr files or directories of them")
    ap.add_argument("--make-jfc", metavar="PATH", help="write the recording settings and exit")
    ap.add_argument("--thread", default="main",
                    help="thread-name prefix (default: main)")
    ap.add_argument("--top", type=int, default=20)
    ap.add_argument("--leaf", type=int, nargs="?", const=5, metavar="K",
                    help="per innermost graft frame, the K library frames under it (default 5)")
    ap.add_argument("--selftest", action="store_true", help="check the attribution on synthetic events")
    a = ap.parse_args()
    if a.selftest:
        return selftest()
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
    events = (ev for p in paths for ev in events_of(p))
    if a.leaf is not None:
        totals, under = attribute_leaf(events, a.thread)
        report_leaf(a.thread, totals, under, a.top, a.leaf)
        return
    waits, counts, truncated = attribute(events, a.thread)
    report_all(a.thread, waits, counts, a.top)
    if truncated:
        print(f"note: {truncated} stacks truncated; raise stackdepth", file=sys.stderr)


if __name__ == "__main__":
    main()
