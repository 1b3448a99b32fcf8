#!/usr/bin/env python3
"""Local replica of the driver's correctness gate (driver-side tooling,
not part of the shipped library): run graft.Verify at a given SF, then
execute each dumped oracle SQL in DuckDB over the same parquet tables
and compare row count, schema (column names sorted), and cell values.

Usage: python3 tools/check.py [sfDir] [outDir] [--skip-verify] [--only=k1,k2]
                              [--posture=open]

--posture=open runs Verify with every size gate forced open (all three
gate confs at 0 bytes), so each gated key's scale plan faces the
oracle; at the default posture a small SF only reaches the
small-input plan. The confs are appended to SPARK_GRAFT_EXTRA_CONFS.
"""
import json, os, subprocess, sys

POSTURES = {
    "default": {},
    "open": {"spark.graft.barrier.minBytes": "0",
             "spark.graft.pin.minBytes": "0",
             "spark.graft.rangerank.minBytes": "0"},
}

pos = [a for a in sys.argv[1:] if not a.startswith("--")]
SF = pos[0] if len(pos) > 0 else "/root/testdata/sf0.01"
OUT = pos[1] if len(pos) > 1 else "/tmp/verify_out"
SKIP = "--skip-verify" in sys.argv
ONLY = None
POSTURE = "default"
for a in sys.argv[1:]:
    if a.startswith("--only="):
        ONLY = set(a[len("--only="):].split(","))
    if a.startswith("--posture="):
        POSTURE = a[len("--posture="):]
if POSTURE not in POSTURES:
    sys.exit(f"--posture must be one of {sorted(POSTURES)}, got: {POSTURE}")

if not SKIP:
    extra = [c for c in os.environ.get("SPARK_GRAFT_EXTRA_CONFS", "").split(";") if c]
    extra += [f"{k}={v}" for k, v in POSTURES[POSTURE].items()]
    env = dict(os.environ, SPARK_GRAFT_CPUS="8",
               SPARK_GRAFT_EXTRA_CONFS=";".join(extra))
    only_arg = f" {','.join(sorted(ONLY))}" if ONLY else ""
    r = subprocess.run(
        ["sbt", "-batch", f'runMain graft.Verify {SF} {OUT}{only_arg}'],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env=env, capture_output=True, text=True)
    if r.returncode != 0:
        print(r.stdout[-3000:]); print(r.stderr[-3000:]); sys.exit(1)
    for line in r.stderr.splitlines():
        if "[verify]" in line:
            print(line)

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    p = f"{SF}/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

oracle = json.load(open(f"{OUT}/oracle_sql.json"))
if ONLY:
    oracle = {k: v for k, v in oracle.items() if k in ONLY}
fails = 0
for name, sql in sorted(oracle.items()):
    spath = f"{OUT}/{name}"
    if not os.path.isdir(spath):
        print(f"{name}: MISSING spark output"); fails += 1; continue
    try:
        sdf = pd.read_parquet(spath)
        odf = con.execute(sql).fetchdf()
    except Exception as e:
        print(f"{name}: ERROR {e}"); fails += 1; continue
    ok_rows = len(sdf) == len(odf)
    scols, ocols = sorted(sdf.columns), sorted(odf.columns)
    ok_schema = scols == ocols
    ok_hash = False
    if ok_rows and ok_schema:
        a = sdf[scols].sort_values(scols).reset_index(drop=True)
        b = odf[ocols].sort_values(ocols).reset_index(drop=True)
        # DTYPE-STRICT (round 12): the driver's hash protocol fails on
        # int64-vs-float64 (DuckDB HUGEINT from an uncast SUM) even when
        # the values are equal — the old astype() coercion here masked
        # exactly that, which is how three r11 keys shipped red. A dtype
        # mismatch is now a FAILURE naming the column; the sole allowed
        # normalization is datetime64 resolution (ns vs us — same
        # instants, parquet-writer artifact), applied loudly.
        dtype_bad = []
        for c in scols:
            da, db = a[c].dtype, b[c].dtype
            if da == db:
                continue
            if str(da).startswith("datetime64") and str(db).startswith("datetime64") \
                    and getattr(da, "tz", None) == getattr(db, "tz", None):
                print(f"  {name}: note datetime unit {db} -> {da} on '{c}'")
                b[c] = b[c].astype(da)
            else:
                dtype_bad.append(f"{c}: spark={da} oracle={db}")
        if dtype_bad:
            print(f"--- {name}: DTYPE MISMATCH (driver hash would fail)")
            for m in dtype_bad:
                print(f"  {m}")
        else:
            ok_hash = a.equals(b)
            if not ok_hash:
                neq = (a != b) & ~(a.isna() & b.isna())
                bad = neq.any(axis=1)
                print(f"--- {name}: first diffs")
                print(a[bad].head(3)); print(b[bad].head(3))
    status = "OK" if (ok_rows and ok_schema and ok_hash) else \
        f"FAIL rows={ok_rows}({len(sdf)}/{len(odf)}) schema={ok_schema} hash={ok_hash}"
    if not (ok_rows and ok_schema and ok_hash):
        fails += 1
        if not ok_schema:
            print(f"  spark cols: {scols}\n  oracle cols: {ocols}")
    print(f"{name}: {status}")
print("ALL OK" if fails == 0 else f"{fails} FAILURES")
sys.exit(1 if fails else 0)
