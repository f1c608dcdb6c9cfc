#!/usr/bin/env python3
"""Interleaved A/B of two checkouts on one perfbench workload.

    python3 tools/ab.py PARENT_DIR CHANGE_DIR --workload ingest --pairs 10 \
        --seed 1 [--trace 0|1] [--log runs.jsonl]
    python3 tools/ab.py --report runs.jsonl     # re-read a saved log
    python3 tools/ab.py --selftest

Each pair runs `python3 perfbench/run.py` once in each checkout, with the
`run_seconds` of that checkout's BENCHMARK.json; pair 0 runs the parent
first and the order alternates after that. From each run it keeps the
last two stdout lines: the environment stamp and the result object.

With `--trace 0` it reports every end-to-end metric BENCHMARK.json lists:
per side the median and quartiles, the median's shift in %, how many
pairs the change won (ties count for neither side), the bound and a
verdict. A metric whose parent interquartile range exceeds its bound is
"unresolved (parent IQR > bound)" and its per-pair values are printed,
unless every change run beats every parent run. With `--trace 1` it
reports the per-layer metrics the same way, without bounds. It also
prints failed/attempted and the host steal share per side. BENCHMARK.json
is only read.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def quartiles(xs):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def last_two(stdout):
    lines = [ln for ln in stdout.splitlines() if ln.strip()]
    if len(lines) < 2:
        raise ValueError("run printed fewer than two lines")
    return json.loads(lines[-2]), json.loads(lines[-1])


def run_once(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-2000:])
        raise SystemExit(f"ab: run failed in {checkout} (exit {p.returncode})")
    stamp, result = last_two(p.stdout)
    return {"stamp": stamp, "result": result}


def metric_table(bench, trace):
    """(name, better, bound or None) for the metrics a run reports."""
    if trace:
        return [(m["name"], m["better"], None) for m in bench["per_layer"]]
    return [(m["name"], m["better"], m["bound"]) for m in bench["end_to_end"]]


def verdict(parent, change, better, bound):
    """The bound check of one metric: 'within bound', 'over bound' or
    'unresolved (parent IQR > bound)'."""
    q1, pm, q3 = quartiles(parent)
    cm = statistics.median(change)
    sign = 1.0 if better == "lower" else -1.0
    worse = sign * (cm - pm) / pm if pm else 0.0
    if all(sign * c < sign * p for c in change for p in parent):
        return "within bound (every change run better)"
    if pm and (q3 - q1) / abs(pm) > bound:
        return "unresolved (parent IQR > bound)"
    return "over bound" if worse > bound else "within bound"


def report(runs, bench, trace, out=sys.stdout):
    sides = {"parent": [], "change": []}
    for r in runs:
        sides[r["side"]].append(r)
    n = min(len(sides["parent"]), len(sides["change"]))
    if n == 0:
        raise SystemExit("ab: no complete pair")
    par, chg = sides["parent"][:n], sides["change"][:n]
    out.write(f"pairs: {n}\n")
    for name, rs in (("parent", par), ("change", chg)):
        failed = sum(r["result"]["failed"] for r in rs)
        attempted = sum(r["result"]["attempted"] for r in rs)
        steal = [r["stamp"]["env"]["steal_share"] for r in rs]
        out.write(f"{name}: failed/attempted {failed}/{attempted}, steal share "
                  f"median {statistics.median(steal):.3f} max {max(steal):.3f}\n")
    out.write(f"{'metric':<40} {'parent med [q1, q3]':<28} {'change med [q1, q3]':<28}"
              f" {'shift':>8} {'wins':>7}  verdict\n")
    for name, better, bound in metric_table(bench, trace):
        if name not in par[0]["result"]["metrics"]:
            continue
        p = [r["result"]["metrics"][name]["value"] for r in par]
        c = [r["result"]["metrics"][name]["value"] for r in chg]
        pq1, pm, pq3 = quartiles(p)
        cq1, cm, cq3 = quartiles(c)
        shift = 100.0 * (cm - pm) / pm if pm else 0.0
        wins = sum((ci < pi) if better == "lower" else (ci > pi) for pi, ci in zip(p, c))
        v = "" if bound is None else f"bound {bound:g}: " + verdict(p, c, better, bound)
        pcell = f"{pm:.4g} [{pq1:.4g}, {pq3:.4g}]"
        ccell = f"{cm:.4g} [{cq1:.4g}, {cq3:.4g}]"
        out.write(f"{name:<40} {pcell:<28} {ccell:<28} {shift:>+7.1f}% {wins:>3}/{n:<3}  {v}\n")
        if v.endswith("unresolved (parent IQR > bound)"):
            out.write("    per pair (parent, change): " +
                      ", ".join(f"({a:.4g}, {b:.4g})" for a, b in zip(p, c)) + "\n")


def selftest():
    stamp = '{"env":{"workload":"ingest","steal_share":%s}}'
    line = ('{"correct":true,"attempted":30,"failed":%d,"metrics":{'
            '"op_p50_ms":{"value":%s,"unit":"ms"},'
            '"throughput_per_s":{"value":%s,"unit":"1/s"}}}')
    bench = {"end_to_end": [
        {"name": "op_p50_ms", "better": "lower", "bound": 0.25},
        {"name": "throughput_per_s", "better": "higher", "bound": 0.25}]}

    def runs(pvals, cvals, failed=0):
        rs = []
        for i, (p, c) in enumerate(zip(pvals, cvals)):
            for side, v in (("parent", p), ("change", c)):
                st, res = last_two("progress\n" + stamp % 0.01 + "\n" +
                                   line % (failed, v, 1000.0 / v))
                rs.append({"pair": i, "side": side, "stamp": st, "result": res})
        return rs

    def text(rs):
        import io
        buf = io.StringIO()
        report(rs, bench, trace=0, out=buf)
        return buf.getvalue()

    checks = []
    # a tight parent spread and a 40 % slowdown: over bound, 0 wins
    t = text(runs([100, 101, 99, 100], [140, 141, 139, 140]))
    checks.append(("slowdown over bound",
                   "op_p50_ms" in t and "over bound" in t and " 0/4" in t))
    # a flat change: within bound both ways
    t = text(runs([100, 101, 99, 100], [100, 100, 101, 99]))
    checks.append(("flat within bound", "over bound" not in t and "unresolved" not in t))
    # a parent spread wider than the bound: unresolved, per-pair values shown
    t = text(runs([60, 100, 140, 200], [120, 130, 150, 160]))
    checks.append(("wide parent spread unresolved",
                   "unresolved (parent IQR > bound)" in t and "per pair" in t))
    # every change run better: within bound even with a wide parent spread
    t = text(runs([60, 100, 140, 200], [50, 55, 58, 59]))
    checks.append(("all better", "every change run better" in t))
    # failures and steal are summed and printed per side
    t = text(runs([100, 100], [100, 100], failed=2))
    checks.append(("failed counted", "failed/attempted 4/60" in t and "steal share" in t))
    checks.append(("quartiles", quartiles([1, 2, 3, 4, 5]) == (2, 3, 4)))
    bad = [name for name, ok in checks if not ok]
    for name, ok in checks:
        print(("ok   " if ok else "FAIL ") + name)
    if bad:
        raise SystemExit(1)
    print('{"selftest":"passed"}')


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent", nargs="?")
    ap.add_argument("change", nargs="?")
    ap.add_argument("--workload")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--log", help="append every run as one JSON line")
    ap.add_argument("--report", help="re-read a --log file instead of running")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        return selftest()
    if a.report:
        runs = [json.loads(ln) for ln in open(a.report) if ln.strip()]
        base = a.parent or os.getcwd()
        with open(os.path.join(base, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        trace = runs[0]["stamp"]["env"].get("trace", a.trace)
        return report(runs, bench, trace=bool(trace))
    if not (a.parent and a.change and a.workload):
        ap.error("PARENT_DIR, CHANGE_DIR and --workload are required")
    with open(os.path.join(a.parent, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    runs = []
    for i in range(a.pairs):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            checkout = a.parent if side == "parent" else a.change
            r = run_once(checkout, a.workload, a.seed, bench["run_seconds"], a.trace)
            r.update(pair=i, side=side, workload=a.workload)
            runs.append(r)
            if a.log:
                with open(a.log, "a") as fh:
                    fh.write(json.dumps(r) + "\n")
            m = r["result"]["metrics"]
            key = "op_p50_ms" if "op_p50_ms" in m else sorted(m)[0]
            print(f"pair {i} {side}: {key} {m[key]['value']:.4g}, steal "
                  f"{r['stamp']['env']['steal_share']:.3f}", flush=True)
    report(runs, bench, trace=bool(a.trace))


if __name__ == "__main__":
    main()
