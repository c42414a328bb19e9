#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run graft.Verify at a
scale factor, then compare each query's parquet output against its DuckDB
oracle (sorted columns by name, sorted rows, value-level compare).

Usage: python3 tools/validate.py [sfdir] [outdir] [--skip-verify] [query...]
"""
import json, math, sys, subprocess, os

sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
flags = [a for a in sys.argv[3:] if a.startswith("--")]
only = [a for a in sys.argv[3:] if not a.startswith("--")]


def driver_mem():
    """SPARK_DRIVER_MEM if set, else half of MemTotal clamped to 2-8 g (the
    rule the spec run uses), never build.sbt's 32g fallback."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "2g"
    return f"{min(8, max(2, kb // 2097152))}g"


if "--skip-verify" not in flags:
    r = subprocess.run(
        ["sbt", f'runMain graft.Verify {sfdir} {outdir}'],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env={**os.environ, "SPARK_DRIVER_MEM": driver_mem()},
        capture_output=True, text=True, timeout=1800)
    tail = (r.stdout + r.stderr).splitlines()[-25:]
    if r.returncode != 0:
        print("VERIFY FAILED"); print("\n".join(tail)); sys.exit(1)
    for line in tail:
        if "[verify]" in line or "error" in line.lower():
            print(line)

import duckdb
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))

def canon(v):
    if isinstance(v, float):
        if math.isnan(v): return "NaN"
        return repr(v)
    return repr(v)

fails, passes = [], []
for name, sql in sorted(oracle.items()):
    if only and name not in only: continue
    qdir = f"{outdir}/{name}"
    if not os.path.isdir(qdir):
        fails.append((name, "no spark output")); continue
    try:
        got = con.execute(f"SELECT * FROM '{qdir}/*.parquet'").fetch_arrow_table()
        exp = con.execute(sql).fetch_arrow_table()
    except Exception as e:
        fails.append((name, f"exec error: {e}")); continue
    gcols, ecols = sorted(got.column_names), sorted(exp.column_names)
    if gcols != ecols:
        fails.append((name, f"schema: spark={gcols} oracle={ecols}")); continue
    grows = sorted([tuple(canon(v) for v in row) for row in
                    zip(*[got.column(c).to_pylist() for c in gcols])])
    erows = sorted([tuple(canon(v) for v in row) for row in
                    zip(*[exp.column(c).to_pylist() for c in ecols])])
    if len(grows) != len(erows):
        fails.append((name, f"rows: spark={len(grows)} oracle={len(erows)}")); continue
    if grows != erows:
        diff = next((i, a, b) for i, (a, b) in enumerate(zip(grows, erows)) if a != b)
        fails.append((name, f"values differ, first at sorted row {diff[0]}:\n"
                            f"    spark : {diff[1]}\n    oracle: {diff[2]}\n"
                            f"    cols  : {gcols}"))
        continue
    passes.append((name, len(grows)))

for n, c in passes: print(f"PASS {n} ({c} rows)")
for n, m in fails: print(f"FAIL {n}: {m}")
print(f"\n{len(passes)} pass / {len(fails)} fail")
sys.exit(1 if fails else 0)
