#!/usr/bin/env python3
"""Prints the refresh operation of a traced serve run as a table.

A serve run with `--trace 1` writes its spans to
`.bench_work/traces/serve-seed<N>.jsonl`. The refresh is the operation whose
spans include `streaming/appendBatch`. For each span directly below it (the
append, the searcher open, the cold lookups and every pool query) the table
gives the span's duration, the Spark jobs launched inside it, the time during
which at least one of those jobs ran ("job ms"; overlapping jobs count once)
and the rest of the span ("driver ms").

    python3 tools/refresh_spans.py                      # every trace file
    python3 tools/refresh_spans.py path/to/serve-seed901.jsonl
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


def refresh_rows(spans):
    """(name, dur_ms, jobs, job_ms, driver_ms) per child span of each refresh."""
    by_id = {s["id"]: s for s in spans}
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def jobs_under(span):
        out, todo = [], list(children.get(span["id"], []))
        while todo:
            c = todo.pop()
            if c["layer"] == "spark":
                out.append((c["start_ns"], c["end_ns"]))
            todo.extend(children.get(c["id"], []))
        return out

    refresh_ops = sorted({s["op"] for s in spans
                          if s["layer"] == "streaming" and s["name"] == "appendBatch"
                          and by_id[s["op"]]["layer"] == "bench"})
    tables = []
    for op in refresh_ops:
        root = by_id[op]
        rows = []
        for c in sorted(children.get(root["id"], []), key=lambda s: s["start_ns"]):
            jobs = jobs_under(c) if c["layer"] != "spark" else [(c["start_ns"], c["end_ns"])]
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
    paths = argv[1:] or sorted(glob.glob(".bench_work/traces/*.jsonl"))
    if not paths:
        sys.exit("no trace files: run perfbench/run.py --workload serve --trace 1 first")
    for p in paths:
        print_table(p)


if __name__ == "__main__":
    main(sys.argv)
