#!/usr/bin/env python3
"""Prints the refresh operation of a traced serve run as a table.

A serve run with `--trace 1` writes its spans to
`.bench_work/traces/serve-seed<N>.jsonl`. The refresh is the operation whose
spans include `streaming/appendBatch`. For each span directly below it (the
append, the searcher open, the cold lookups and every pool query) the table
gives the span's duration, the Spark jobs launched inside it, the time during
which at least one of those jobs ran ("job ms"; overlapping jobs count once)
and the rest of the span ("driver ms").

With `--classes` it prints instead, for the whole run, one row per query
class (the `layer/name` of the spans directly below each operation, e.g.
`search/phrase`): how many calls, the Spark jobs they launched, their summed
ms and that sum's share of the busy time (the summed duration of every
operation).

    python3 tools/refresh_spans.py                      # every trace file
    python3 tools/refresh_spans.py path/to/serve-seed901.jsonl
    python3 tools/refresh_spans.py --classes [path ...]
"""
import glob
import json
import sys


def union_ms(intervals):
    """Length in ms of the union of (start_ns, end_ns) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1e6


def children_of(spans):
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    return children


def jobs_under(span, children):
    """(start_ns, end_ns) of every Spark job span below `span`."""
    out, todo = [], list(children.get(span["id"], []))
    while todo:
        c = todo.pop()
        if c["layer"] == "spark":
            out.append((c["start_ns"], c["end_ns"]))
        todo.extend(children.get(c["id"], []))
    return out


def class_rows(spans):
    """(busy_ms, [(class, calls, jobs, ms)]) over every operation of a run,
    classes by summed ms, largest first."""
    children = children_of(spans)
    ops = [s for s in spans if s["layer"] == "bench" and s["parent"] == 0]
    busy = sum(o["end_ns"] - o["start_ns"] for o in ops) / 1e6
    acc = {}
    for o in ops:
        for c in children.get(o["id"], []):
            if c["layer"] == "spark":
                continue
            row = acc.setdefault(f'{c["layer"]}/{c["name"]}', [0, 0, 0.0])
            row[0] += 1
            row[1] += len(jobs_under(c, children))
            row[2] += (c["end_ns"] - c["start_ns"]) / 1e6
    rows = sorted(((k, n, j, ms) for k, (n, j, ms) in acc.items()), key=lambda r: -r[3])
    return busy, rows


def print_classes(path):
    with open(path) as f:
        spans = [json.loads(line) for line in f if line.strip()]
    busy, rows = class_rows(spans)
    print(f"{path}: busy {busy:.1f} ms")
    print(f"  {'class':<28} {'calls':>6} {'jobs':>6} {'ms':>9} {'share':>7}")
    for name, calls, jobs, ms in rows:
        print(f"  {name:<28} {calls:6d} {jobs:6d} {ms:9.1f} {100 * ms / busy:6.1f}%")


def refresh_rows(spans):
    """(name, dur_ms, jobs, job_ms, driver_ms) per child span of each refresh."""
    by_id = {s["id"]: s for s in spans}
    children = children_of(spans)

    refresh_ops = sorted({s["op"] for s in spans
                          if s["layer"] == "streaming" and s["name"] == "appendBatch"
                          and by_id[s["op"]]["layer"] == "bench"})
    tables = []
    for op in refresh_ops:
        root = by_id[op]
        rows = []
        for c in sorted(children.get(root["id"], []), key=lambda s: s["start_ns"]):
            jobs = (jobs_under(c, children) if c["layer"] != "spark"
                    else [(c["start_ns"], c["end_ns"])])
            dur = (c["end_ns"] - c["start_ns"]) / 1e6
            job_ms = union_ms(jobs)
            rows.append((f'{c["layer"]}/{c["name"]}', dur, len(jobs), job_ms, dur - job_ms))
        tables.append((root, rows))
    return tables


def print_table(path):
    with open(path) as f:
        spans = [json.loads(line) for line in f if line.strip()]
    for root, rows in refresh_rows(spans):
        print(f"{path}: refresh op {root['id']}, "
              f"{(root['end_ns'] - root['start_ns']) / 1e6:.1f} ms")
        print(f"  {'span':<28} {'ms':>9} {'jobs':>5} {'job ms':>9} {'driver ms':>10}")
        for name, dur, jobs, job_ms, drv in rows:
            print(f"  {name:<28} {dur:9.1f} {jobs:5d} {job_ms:9.1f} {drv:10.1f}")
        cold = [r for r in rows if r[0] != "streaming/appendBatch"]
        print(f"  {'total outside the append':<28} {sum(r[1] for r in cold):9.1f} "
              f"{sum(r[2] for r in cold):5d} {sum(r[3] for r in cold):9.1f} "
              f"{sum(r[4] for r in cold):10.1f}")


def main(argv):
    classes = "--classes" in argv[1:]
    paths = [a for a in argv[1:] if a != "--classes"]
    paths = paths or sorted(glob.glob(".bench_work/traces/*.jsonl"))
    if not paths:
        sys.exit("no trace files: run perfbench/run.py --workload serve --trace 1 first")
    for p in paths:
        (print_classes if classes else print_table)(p)


if __name__ == "__main__":
    main(sys.argv)
