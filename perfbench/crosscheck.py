#!/usr/bin/env python3
"""Cross-check perfbench/expected.tsv against the DuckDB oracle.

    python3 perfbench/crosscheck.py

For every query the benchmark runs: `graft.Verify` dumps its result to
parquet along with `SparkEntry.oracleSql`; `tools/selfcheck.py` compares
each dump with DuckDB running the oracle SQL on the same tables; then the
benchmark's fingerprint of each dump must equal the one recorded in
expected.tsv. Queries without oracle SQL (the sketches) are compared on
row count only. Exits 1 on any mismatch.
"""
import importlib.util
import os
import shutil
import subprocess
import sys

import run

OUT = os.path.join(run.WORK, "crosscheck")


def java(classpath, main, args):
    os.makedirs(os.path.join(OUT, "tmp"), exist_ok=True)
    return subprocess.run(run.java_cmd(classpath, OUT, main, args), cwd=run.ROOT,
                          capture_output=True, text=True, check=True).stdout


def main():
    queries = sorted(q for qs in run.QUERIES.values() for q in qs)
    classpath = run.build(run.source_hash())
    shutil.rmtree(OUT, ignore_errors=True)
    dumps = os.path.join(OUT, "verify")
    java(classpath, "graft.Verify", [run.DATA, dumps, ",".join(queries)])

    spec = importlib.util.spec_from_file_location(
        "selfcheck", os.path.join(run.ROOT, "tools", "selfcheck.py"))
    selfcheck = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(selfcheck)
    bad = selfcheck.main(run.DATA, dumps)

    expected = {}
    with open(os.path.join(run.HERE, "expected.tsv")) as f:
        for line in f:
            if line.strip():
                q, n, fp = line.rstrip("\n").split("\t")
                expected[q] = (int(n), fp)
    got = {}
    for line in java(classpath, "perfbench.FingerprintDumps", [dumps] + queries).splitlines():
        q, n, fp = line.split("\t")
        got[q] = (int(n), fp)
    for q in queries:
        want = expected.get(q)
        ok = want is not None and got[q][0] == want[0] and (want[1] == "-" or got[q][1] == want[1])
        print("%s %s: dump rows %d fingerprint %s, expected %s" % (
            "OK  " if ok else "FAIL", q, got[q][0], got[q][1], want))
        bad += 0 if ok else 1
    shutil.rmtree(OUT, ignore_errors=True)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
