#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate: run DuckDB on
oracle_sql.json over the testdata parquet tables and compare against the
Verify.scala parquet dumps (columns sorted by name, rows in emitted order,
exact value compare with float tolerance reporting).

Usage: python3 tools/selfcheck.py <sfDir> <verifyOutDir>
(Run `sbt "runMain graft.Verify <sfDir> <outDir>"` first.)

Verify writes its fitted-model and warehouse dumps to fixed paths under
the checkout's target/ and stamps each with the data dir it was written
for. Before comparing anything, this check refuses (exit 1, naming
them) dumps stamped for another data dir: a Verify at another scale
factor overwrote them, and the oracle rows that read them would fail
for that reason alone.
"""
import glob, json, math, sys, os
import duckdb

# Verify.StampFile
STAMP = "_sf_dir"
TARGET = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "target")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(v):
    if isinstance(v, float):
        return v
    return v

def eq(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    return a == b

def stale_dumps(sf_dir):
    """(dump dir, stamped data dir) of each dump written for another dir."""
    want = os.path.realpath(sf_dir)
    stale = []
    for stamp in sorted(glob.glob(os.path.join(TARGET, "*", STAMP))):
        with open(stamp) as f:
            got = f.read().strip()
        if got != want:
            stale.append((os.path.dirname(stamp), got))
    return stale

def main(sf_dir, out_dir):
    import time
    stale = stale_dumps(sf_dir)
    for dump, got in stale:
        print(f"STALE {dump}: written by Verify for {got}, "
              f"not {os.path.realpath(sf_dir)}")
    if stale:
        print(f"== {len(stale)} stale dump(s): rerun Verify on {sf_dir} "
              "before checking it ==")
        return 1
    age = time.time() - os.path.getmtime(f"{out_dir}/oracle_sql.json")
    if age > 1800:
        print(f"WARNING: verify output is {age/60:.0f} min old — "
              "a failed runMain leaves stale dumps that pass vacuously")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        spark_path = f"{out_dir}/{name}"
        if not os.path.isdir(spark_path):
            print(f"FAIL {name}: no spark output dir")
            n_fail += 1
            continue
        try:
            drel = con.sql(sql)
            duck = drel.fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        srel = con.sql(f"SELECT * FROM '{spark_path}/*.parquet'")
        spark = srel.fetchdf()
        dcols, scols = sorted(duck.columns), sorted(spark.columns)
        if dcols != scols:
            print(f"FAIL {name}: columns differ duck={dcols} spark={scols}")
            n_fail += 1
            continue
        # TYPE-STRICT: the driver's hash is type-aware, so identical
        # values in different types (HUGEINT from a bare SUM(BIGINT) vs
        # Spark's int64) fail the real gate while pandas' type-blind
        # eq() passes (335 == 335.0). Round 2 shipped five driver-reds
        # exactly this way. Compare DuckDB's view of both schemas.
        dtypes = dict(zip(drel.columns, map(str, drel.types)))
        stypes = dict(zip(srel.columns, map(str, srel.types)))
        if dtypes != stypes:
            diff = {c: (dtypes.get(c), stypes.get(c))
                    for c in set(dtypes) | set(stypes)
                    if dtypes.get(c) != stypes.get(c)}
            print(f"FAIL {name}: column TYPES differ (duck, spark): {diff}")
            n_fail += 1
            continue
        duck, spark = duck[dcols], spark[dcols]
        if len(duck) != len(spark):
            print(f"FAIL {name}: rowcount duck={len(duck)} spark={len(spark)}")
            n_fail += 1
            continue
        drows = [tuple(r) for r in duck.itertuples(index=False)]
        srows = [tuple(r) for r in spark.itertuples(index=False)]
        bad = None
        for i, (dr, sr) in enumerate(zip(drows, srows)):
            if not all(eq(canon(a), canon(b)) for a, b in zip(dr, sr)):
                bad = (i, dr, sr)
                break
        if bad:
            # also check order-insensitively to distinguish sort bugs
            try:
                sorted_match = sorted(map(repr, drows)) == sorted(map(repr, srows))
            except Exception:
                sorted_match = False
            print(f"FAIL {name}: row {bad[0]} duck={bad[1]} spark={bad[2]}"
                  f" (order-insensitive match: {sorted_match})")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(duck)} rows)")
            n_pass += 1
    print(f"== {n_pass} pass / {n_fail} fail ==")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
