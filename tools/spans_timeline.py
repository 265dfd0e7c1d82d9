#!/usr/bin/env python3
"""Print where an operation's wall time went, job by job, from a perfbench
spans file.

    python3 tools/spans_timeline.py perfbench/.work/spans-<tag>.json [--op build] [--jobs]

A traced perfbench run (`--trace 1`) keeps its spans in
perfbench/.work/spans-*.json: one span per operation (`build`, `refresh`,
`refresh_update`, ...) and one per Spark job, named `job <id> <file>` after
the engine file of the job's call site. For each operation this prints its
wall time, then the segments of consecutive jobs (by start time) attributed
to the same file: the file, the job count, and the start-end ms relative to
the operation's start. Jobs of one file may overlap, and jobs of different
files may overlap too, so per-file `exec_ms` (task time summed over jobs)
can exceed the wall time it sizes; a segment's start-end is the wall-clock
span the jobs took. The last lines per operation add the segments up per
file. With `--jobs` it prints one line per job instead: its id, its file,
its start relative to the operation's start, its duration, and the driver
gap before it (the time since the previous job of the operation ended, or
since the operation started; 0 when it overlaps an earlier job), then the
gap after the last job. Reads the spans file only; writes nothing.
"""
import argparse
import json
import sys
from collections import OrderedDict


def ms(ns):
    return ns / 1e6


def file_of(job):
    return job["name"].split(" ", 2)[2] if job["name"].count(" ") >= 2 else "other"


def by_start(jobs):
    return sorted(jobs, key=lambda s: (s["start_ns"], s["id"]))


def job_lines(op, jobs):
    """One line per job: id, file, start and duration in ms, and the driver
    gap before it; then the gap after the last job."""
    t0 = op["start_ns"]
    done = t0
    for j in by_start(jobs):
        jid = j["name"].split(" ")[1]
        gap = max(0, j["start_ns"] - done)
        print(f"  job {jid:>5} {file_of(j):<22} start {ms(j['start_ns'] - t0):8.0f} ms"
              f"  took {ms(j['end_ns'] - j['start_ns']):6.0f} ms  gap before {ms(gap):6.0f} ms")
        done = max(done, j["end_ns"])
    print(f"  after the last job {ms(max(0, op['end_ns'] - done)):6.0f} ms")


def segments(jobs):
    """Runs of consecutive jobs (by start) with the same file:
    [file, count, start_ns, end_ns]."""
    out = []
    for j in by_start(jobs):
        f = file_of(j)
        if out and out[-1][0] == f:
            out[-1][1] += 1
            out[-1][3] = max(out[-1][3], j["end_ns"])
        else:
            out.append([f, 1, j["start_ns"], j["end_ns"]])
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("spans", help="a perfbench spans-*.json file")
    ap.add_argument("--op", action="append", default=[],
                    help="operation name to print (repeatable; default: all)")
    ap.add_argument("--jobs", action="store_true",
                    help="print every job with its start, duration and the "
                         "driver gap before it, instead of file segments")
    args = ap.parse_args()
    with open(args.spans) as f:
        spans = json.load(f)
    by_id = {s["id"]: s for s in spans}
    ops = OrderedDict()
    for s in sorted(spans, key=lambda s: s["start_ns"]):
        if s["op"] and not s["name"].startswith("job ") and \
                by_id.get(s["parent"], {}).get("op") != s["op"]:
            ops.setdefault(s["op"], s)
    jobs = {}
    for s in spans:
        if s["name"].startswith("job "):
            jobs.setdefault(s["op"], []).append(s)
    for op_id, op in ops.items():
        name = op_id.split("#")[0]
        if args.op and name not in args.op:
            continue
        js = jobs.get(op_id, [])
        t0 = op["start_ns"]
        print(f"{op_id}: {ms(op['end_ns'] - t0):.0f} ms wall, {len(js)} jobs")
        if args.jobs:
            job_lines(op, js)
            continue
        per_file = OrderedDict()
        for f, n, a, b in segments(js):
            print(f"  {f:<22} {n:>3} jobs  {ms(a - t0):8.0f} - {ms(b - t0):8.0f} ms")
            c, w = per_file.get(f, (0, 0.0))
            per_file[f] = (c + n, w + ms(b - a))
        for f, (n, w) in per_file.items():
            print(f"  = {f:<20} {n:>3} jobs  {w:8.0f} ms in segments")
    return 0


if __name__ == "__main__":
    sys.exit(main())
