#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: reads the parquet
results Verify.scala wrote, runs each oracle SQL in DuckDB over the same
testdata, and compares (schema by sorted column names, values by sorted
rows). Usage: python3 tools/check.py <sfDir> <verifyOutDir>"""
import sys, os, json, math
import duckdb

sfdir, outdir = sys.argv[1], sys.argv[2]

def host_mem_limit():
    """The smaller of 48 GiB and 80% of MemTotal (DuckDB's own default
    share); 48 GiB where /proc/meminfo is unreadable. Half of MemTotal is
    too little: d19's recursive-CTE oracle runs out of DuckDB memory at
    7.8 GiB on a 15 GiB host, while its resident set stays near 2 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return "48GiB"
    return f"{min(48 * 1024, kb * 4 // 5 // 1024)}MiB"

con = duckdb.connect()
# Bound DuckDB so a heavy oracle (e.g. the within-cell all-pairs joins of
# d8/x7/x8 on an sf1-scale corpus) spills to disk instead of OOM-killing
# the host; GRAFT_DUCK_MEM overrides it.
con.execute(f"SET memory_limit='{os.environ.get('GRAFT_DUCK_MEM') or host_mem_limit()}'")
con.execute("SET temp_directory='/tmp/graft_duck_spill'")
for t in ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]:
    p = f"{sfdir}/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))

def norm(v):
    if isinstance(v, float):
        if math.isnan(v): return "NaN"
        return repr(v)
    if hasattr(v, "isoformat"): return v.isoformat()
    try:
        import decimal
        if isinstance(v, decimal.Decimal): return repr(float(v))
    except Exception: pass
    return repr(v)

def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm(r[i]) for i in order) for r in rows]
    out.sort()
    return [cols[i] for i in order], out

fails = 0
names = sorted(os.listdir(outdir))
for name in names:
    d = os.path.join(outdir, name)
    if not os.path.isdir(d): continue
    try:
        res = con.execute(f"SELECT * FROM read_parquet('{d}/*.parquet')")
        scols = [c[0] for c in res.description]
        srows = res.fetchall()
    except Exception as e:
        print(f"FAIL {name}: cannot read spark result: {e}"); fails += 1; continue
    if name not in oracle:
        print(f"SKIP {name}: no oracle (rows-only check: {len(srows)} rows)")
        continue
    try:
        ores = con.execute(oracle[name])
        ocols = [c[0] for c in ores.description]
        orows = ores.fetchall()
    except Exception as e:
        print(f"FAIL {name}: oracle SQL error: {e}"); fails += 1; continue
    sc, sr = canon(scols, srows)
    oc, orr = canon(ocols, orows)
    if sc != oc:
        print(f"FAIL {name}: schema mismatch spark={sc} oracle={oc}"); fails += 1; continue
    if len(sr) != len(orr):
        print(f"FAIL {name}: row count spark={len(sr)} oracle={len(orr)}"); fails += 1; continue
    if sr != orr:
        bad = [i for i, (a, b) in enumerate(zip(sr, orr)) if a != b][:3]
        print(f"FAIL {name}: value mismatch at sorted rows {bad}")
        for i in bad:
            print(f"   spark : {sr[i]}")
            print(f"   oracle: {orr[i]}")
        fails += 1; continue
    print(f"PASS {name} ({len(sr)} rows)")

missing = [q for q in oracle if not os.path.isdir(os.path.join(outdir, q))]
for q in missing:
    print(f"FAIL {q}: oracle declared but no spark result"); fails += 1
print(f"== {fails} failures / {len(names)} checked ==")
sys.exit(1 if fails else 0)
