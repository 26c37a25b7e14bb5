"""Per-job table of one traced perfbench op.

    python3 tools/trace_jobs.py .bench_build/traces/flight_etl-7.jsonl [--op N]

Reads the JSON lines a `perfbench/run.py --trace 1` run leaves in
.bench_build/traces/<workload>-<seed>.jsonl. For one traced op (the first
by default) it prints every job that starts inside the op: start and end
(ms after the op starts), duration, stage count, SQL execution id and the
innermost `graft.` frame of its call site. A job Spark submits from its
own threads (an adaptive stage, a broadcast) has no engine frame; it is
shown with the frame of another job of the same SQL execution, marked
`~`, or else with the module the trace assigned it, as `[module]`.
Then, per span of the op: its duration, the jobs that start in it, the
time some job is running, and the driver time with no job running.
Only reads the trace file.
"""
import argparse
import json
import sys


def frame(call_site):
    """The innermost graft.* frame of a ' | '-joined call site, or None."""
    for line in call_site.split(" | "):
        line = line.strip()
        if line.startswith("graft."):
            return line
    return None


def covered(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    total, cur = 0.0, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur is None or a > cur[1]:
            if cur is not None:
                total += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    if cur is not None:
        total += cur[1] - cur[0]
    return total


def within(t, a, b):
    # Listener times have millisecond grain (as in perfbench's Layers).
    return a - 1 <= t <= b + 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("trace", help=".bench_build/traces/<workload>-<seed>.jsonl")
    ap.add_argument("--op", type=int, help="traced op number (default: the first)")
    a = ap.parse_args()
    with open(a.trace) as f:
        records = [json.loads(line) for line in f if line.strip()]
    spans = [r for r in records if r["type"] == "span"]
    jobs = [r for r in records if r["type"] == "job" and r["end"] >= 0]
    ops = sorted({s["op"] for s in spans})
    if not ops:
        print("no traced op in " + a.trace, file=sys.stderr)
        return 1
    op = ops[0] if a.op is None else a.op
    top = [s for s in spans if s["op"] == op and s["parent"] == 0]
    if not top:
        print(f"op {op} not traced; traced ops: {ops}", file=sys.stderr)
        return 1
    lo, hi = min(s["start"] for s in top), max(s["end"] for s in top)
    mine = sorted((j for j in jobs if within(j["start"], lo, hi)), key=lambda j: j["start"])
    by_exec = {}
    for j in jobs:
        fr = frame(j["call_site"])
        if fr is not None and j["exec"] >= 0:
            by_exec.setdefault(j["exec"], fr)

    print(f"op {op}: {(hi - lo) / 1e3:.3f} s, {len(mine)} jobs")
    print(f"{'job':>5} {'start':>8} {'end':>8} {'ms':>6} {'stages':>6} {'exec':>5}  call site")
    for j in mine:
        fr = frame(j["call_site"])
        if fr is not None:
            site = fr
        elif j["exec"] in by_exec:
            site = "~" + by_exec[j["exec"]]
        else:
            site = f"[{j['module']}]"
        print(f"{j['id']:>5} {j['start'] - lo:>8.0f} {j['end'] - lo:>8.0f} "
              f"{j['end'] - j['start']:>6} {j['stages']:>6} {j['exec']:>5}  {site}")

    print()
    print(f"{'span':<28} {'s':>7} {'jobs':>5} {'job_s':>7} {'gap_s':>7}")
    rows = [(s["name"], s["start"], s["end"]) for s in sorted(top, key=lambda s: s["start"])]
    rows.append(("(op)", lo, hi))
    for name, a0, b0 in rows:
        js = [j for j in mine if within(j["start"], a0, b0)]
        busy = covered([(j["start"], j["end"]) for j in js], a0, b0)
        print(f"{name:<28} {(b0 - a0) / 1e3:>7.3f} {len(js):>5} "
              f"{busy / 1e3:>7.3f} {(b0 - a0 - busy) / 1e3:>7.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
