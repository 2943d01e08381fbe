#!/usr/bin/env python3
"""Steadiness and A/B comparison of benchmark run records.

    python3 perfbench/compare.py A            # spread of one set of runs
    python3 perfbench/compare.py A B          # compare set B against set A

A and B are directories of run records (perfbench/.work/results/*.json)
or single record files. Records are grouped by workload; untraced runs
give the end-to-end metrics, traced runs the tracing overhead and
whether the layer spans' self times account for the untraced job_s.

For one set, each end-to-end metric gets its median, quartiles and
spread (quartile distance over the median), flagged when the spread is
above a third of the metric's bound in BENCHMARK.json.

For two sets, each (workload, metric) pairing is reported as:
  regressed   B's median is worse than A's by more than the bound;
  unresolved  either set spreads wider than the bound, unless every run
              of B reads better than every run of A;
  improved    B wins at least 9 of 10 seed-paired runs and the medians
              differ by more than A's quartile distance;
  agreeing    otherwise.
Every set also reports its failed fraction (failed / attempted) and any
run whose output checks failed. The exit code is 1 when a pairing
regressed, a run failed a check or an operation failed.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    runs = []
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        if "workload" in r:
            runs.append(r)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        b = json.load(f)
    return {m["name"]: m for m in b["end_to_end"]}


def values(runs, workload, metric):
    return [r["end_to_end"][metric] for r in runs
            if r["workload"] == workload and not r["trace"] and metric in r["end_to_end"]]


def by_seed(runs, workload, metric):
    return {r["seed"]: r["end_to_end"][metric] for r in runs
            if r["workload"] == workload and not r["trace"] and metric in r["end_to_end"]}


def health(name, runs):
    bad = 0
    for w in sorted({r["workload"] for r in runs}):
        rs = [r for r in runs if r["workload"] == w]
        att = sum(r["attempted"] for r in rs)
        fail = sum(r["failed"] for r in rs)
        wrong = [r["seed"] for r in rs if not r["correct"]]
        print("%s %-12s runs %3d  failed_frac %.4f  output checks failed on seeds %s" % (
            name, w, len(rs), fail / max(1, att), wrong or "none"))
        bad += fail + len(wrong)
        traced = [r["end_to_end"]["job_s"] for r in rs if r["trace"] and "job_s" in r["end_to_end"]]
        plain = [r["end_to_end"]["job_s"] for r in rs if not r["trace"] and "job_s" in r["end_to_end"]]
        if traced and plain:
            over = statistics.median(traced) - statistics.median(plain)
            layers = [r["per_layer"]["trace.layer_self_s"] for r in rs
                      if r["trace"] and "trace.layer_self_s" in r["per_layer"]]
            unattributed = [r["per_layer"].get("trace.unattributed_s", 0.0) for r in rs
                            if r["trace"] and "trace.layer_self_s" in r["per_layer"]]
            line = "%s %-12s tracing overhead on job_s: %+.3f s (traced %.3f, untraced %.3f)" % (
                name, w, over, statistics.median(traced), statistics.median(plain))
            if layers:
                # The layer spans account for the job when their self times
                # sum to the untraced job_s within the tracing overhead,
                # allowing for the untraced runs' own quartile distance.
                gap = statistics.median(layers) - statistics.median(plain)
                q1, _, q3 = quartiles(plain)
                line += ("; layer self times sum to %.3f s (%.3f s in no layer), "
                         "%+.3f s from untraced job_s (%s)") % (
                    statistics.median(layers), statistics.median(unattributed), gap,
                    "within the overhead and spread" if abs(gap) <= max(over, 0) + (q3 - q1)
                    else "OUTSIDE the overhead and spread")
            print(line)
    return bad


def better(metric, a, b):
    return b < a if metric["better"] == "lower" else b > a


def main(argv):
    if len(argv) not in (2, 3):
        print(__doc__)
        return 2
    metrics = spec()
    a = load(argv[1])
    b = load(argv[2]) if len(argv) == 3 else None
    bad = health("A", a) + (health("B", b) if b else 0)
    workloads = sorted({r["workload"] for r in a + (b or [])})
    print()
    for w in workloads:
        for name, m in metrics.items():
            va = values(a, w, name)
            if not va:
                continue
            q1, med, q3 = quartiles(va)
            spread = (q3 - q1) / med if med else float("inf")
            row = "%-12s %-13s A n=%-2d median %-10.4g q1 %-10.4g q3 %-10.4g spread %.3f" % (
                w, name, len(va), med, q1, q3, spread)
            if b is None:
                flag = "" if spread <= m["bound"] / 3 else "  > bound/3"
                print(row + "  (bound %.2f)%s" % (m["bound"], flag))
                continue
            vb = values(b, w, name)
            if not vb:
                print(row + "  B: no runs")
                continue
            b1, bmed, b3 = quartiles(vb)
            bspread = (b3 - b1) / bmed if bmed else float("inf")
            worse = (bmed - med) / med if m["better"] == "lower" else (med - bmed) / med
            sa, sb = by_seed(a, w, name), by_seed(b, w, name)
            pairs = [(sa[s], sb[s]) for s in sa if s in sb]
            wins = sum(1 for x, y in pairs if better(m, x, y))
            if worse > m["bound"] and max(spread, bspread) <= m["bound"]:
                verdict = "regressed"
            elif max(spread, bspread) > m["bound"]:
                all_better = all(better(m, x, y) for x in va for y in vb)
                verdict = "improved" if all_better else "unresolved"
            elif pairs and wins >= 0.9 * len(pairs) and abs(bmed - med) > (q3 - q1):
                verdict = "improved"
            else:
                verdict = "agreeing"
            if verdict == "regressed":
                bad += 1
            print(row + "\n%-26s B n=%-2d median %-10.4g q1 %-10.4g q3 %-10.4g spread %.3f"
                  "  change %+.1f%% (bound %.0f%%), B wins %d/%d pairs: %s" % (
                      "", len(vb), bmed, b1, b3, bspread, 100 * (bmed - med) / med,
                      100 * m["bound"], wins, len(pairs), verdict))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
