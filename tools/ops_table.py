#!/usr/bin/env python3
"""Per-query cost split from perfbench run records.

Reads the `ops` array of one or more run records (the JSON files
perfbench/run.py writes to perfbench/.work/results/) and prints, for
each query, the median over the records of build_s (constructing the
DataFrame), plan_s, exec_s, jobs and driver_only_s, slowest build
first. `jobs` and `driver_only_s` are only recorded by traced runs
(--trace 1); untraced records show them as "-".

Below the query table, one line per record gives its memory figures:
heap_retained_mb (end to end), the session cache's frames and
cached_mb after the cold pass, and storage.mb_after_op, the most block
storage held after any one query (traced runs only). A memory A/B can
be read from these lines alone.

Usage: ops_table.py RECORD [RECORD ...]

Only the cold pass (pass 0) is read: warm passes reuse the session
caches and fitted models, so mixing them in would hide the cold cost.
"""
import argparse
import json
import os
import statistics
import sys

FIELDS = ["build_s", "plan_s", "exec_s", "jobs", "driver_only_s"]


# (column, record block, metric, format)
MEMORY = [("heap_retained_mb", "end_to_end", "heap_retained_mb", "%.1f"),
          ("cache_frames", "per_layer", "queries.SessionCache.frames", "%d"),
          ("cached_mb", "per_layer", "queries.SessionCache.cached_mb", "%.2f"),
          ("storage_mb_after_op", "per_layer", "spark.storage.mb_after_op", "%.2f")]


def load(path):
    with open(path) as f:
        return json.load(f)


def ops_of(rec):
    return [op for op in rec.get("ops", []) if op.get("pass") == 0]


def memory_rows(paths, recs):
    rows = []
    for path, rec in zip(paths, recs):
        label = "%s s%s %s" % (rec.get("workload", "?"), rec.get("seed", "?"),
                               (rec.get("git_commit") or "?")[:8])
        rows.append((label, path, [rec.get(block, {}).get(key) for _, block, key, _ in MEMORY]))
    return rows


def table(recs):
    samples = {}
    for rec in recs:
        for op in ops_of(rec):
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
    recs = [load(p) for p in args.records]
    rows = table(recs)
    if not rows:
        print("no ops in the given records", file=sys.stderr)
        return 1
    width = max(len("query"), max(len(r[0]) for r in rows))
    print("%-*s %5s %s" % (width, "query", "n", " ".join("%13s" % f for f in FIELDS)))
    for query, n, med in rows:
        print("%-*s %5d %s" % (width, query, n,
                               " ".join("%13s" % fmt(med[f], f) for f in FIELDS)))
    mem = memory_rows(args.records, recs)
    width = max(len("record"), max(len(m[0]) for m in mem))
    print()
    print("%-*s %s  file" % (width, "record", " ".join("%19s" % m[0] for m in MEMORY)))
    for label, path, vals in mem:
        print("%-*s %s  %s" % (width, label,
                               " ".join("%19s" % ("-" if v is None else m[3] % v)
                                        for m, v in zip(MEMORY, vals)),
                               os.path.basename(path)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
