#!/usr/bin/env python3
"""Per-query cost split from perfbench run records.

Reads the `ops` array of one or more run records (the JSON files
perfbench/run.py writes to perfbench/.work/results/) and prints, for
each query, the median over the records of build_s (constructing the
DataFrame), plan_s, exec_s, jobs and driver_only_s, slowest build
first. `jobs` and `driver_only_s` are only recorded by traced runs
(--trace 1); untraced records show them as "-".

Usage: ops_table.py RECORD [RECORD ...]

Only the cold pass (pass 0) is read: warm passes reuse the session
caches and fitted models, so mixing them in would hide the cold cost.
"""
import argparse
import json
import statistics
import sys

FIELDS = ["build_s", "plan_s", "exec_s", "jobs", "driver_only_s"]


def ops_of(path):
    with open(path) as f:
        rec = json.load(f)
    return [op for op in rec.get("ops", []) if op.get("pass") == 0]


def table(paths):
    samples = {}
    for path in paths:
        for op in ops_of(path):
            per_field = samples.setdefault(op["query"], {f: [] for f in FIELDS})
            for f in FIELDS:
                if op.get(f) is not None:
                    per_field[f].append(op[f])
    rows = []
    for query, per_field in samples.items():
        rows.append((query, len(per_field["build_s"]),
                     {f: statistics.median(v) if v else None
                      for f, v in per_field.items()}))
    rows.sort(key=lambda r: -(r[2]["build_s"] or 0.0))
    return rows


def fmt(v, field):
    if v is None:
        return "-"
    return "%.1f" % v if field == "jobs" else "%.3f" % v


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("records", nargs="+")
    args = ap.parse_args(argv)
    rows = table(args.records)
    if not rows:
        print("no ops in the given records", file=sys.stderr)
        return 1
    width = max(len("query"), max(len(r[0]) for r in rows))
    print("%-*s %5s %s" % (width, "query", "n", " ".join("%13s" % f for f in FIELDS)))
    for query, n, med in rows:
        print("%-*s %5d %s" % (width, query, n,
                               " ".join("%13s" % fmt(med[f], f) for f in FIELDS)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
