#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: for each query dumped by
graft.Verify, run its oracle SQL in DuckDB over the same parquet tables and
compare (columns sorted by name, rows sorted by all values).

Usage: python3 tools/check_oracle.py /root/testdata/sf0.01 /tmp/verify-out
"""
import json, os, sys, math
import duckdb

sf_dir, out_dir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
# spill OUTSIDE the repo and with a hard cap: an oracle whose replay needs
# unbounded temp (the sf10 d_span_clusters lesson: 77 GB into ./.tmp) must
# fail loudly, not fill the disk. Caps derive from the HOST (hardcoded
# 48GiB/40GiB assumed the 128 GiB box and raised OOM risk on smaller
# machines); env vars override for one-off runs.
spill_dir = os.environ.get("ORACLE_SPILL_DIR", "/tmp/duckdb_oracle_spill")
os.makedirs(spill_dir, exist_ok=True)
free_disk_gb = os.statvfs(spill_dir).f_bavail * os.statvfs(spill_dir).f_frsize // 2**30
spill_cap = os.environ.get("ORACLE_SPILL_CAP", f"{max(1, min(40, free_disk_gb // 2))}GiB")
con.execute(f"SET temp_directory='{spill_dir}'")
con.execute(f"SET max_temp_directory_size='{spill_cap}'")
# ... and a memory ceiling: DuckDB's default (80% of RAM) plus the Python
# row materialization OOM-killed the sf10 run mid-gate; spilling under a
# cap degrades to disk instead of dying. ~40% of physical RAM leaves the
# other half for Python's fetchall + the OS, capped at the 48GiB that
# proved sufficient for every completing replay.
ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
mem_cap = os.environ.get("ORACLE_MEM_CAP", f"{max(1, min(48, ram_gb * 2 // 5))}GiB")
con.execute(f"SET memory_limit='{mem_cap}'")
# Thread knob: some replays (recursive-CTE Lloyd over sf10-scale array
# columns) allocate per-thread intermediates that escape DuckDB's
# memory accounting — the s_kmeans sf10 replay OOM-killed the process
# at 130 GB RSS under a 40 GiB memory_limit. Fewer threads bounds the
# unaccounted share; override for one-off scale gates.
threads = os.environ.get("ORACLE_THREADS")
if threads:
    con.execute(f"SET threads={int(threads)}")
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    p = f"{sf_dir}/{t}.parquet"
    # ScaleUp's multi-file layout writes <table>.parquet as a DIRECTORY of
    # part files, and its `hive` mode nests them under __p_*=value/
    # partition dirs (the realistic large-corpus layouts); the recursive
    # glob covers both, and hive_partitioning=0 keeps the __p_* layout
    # columns OUT of the logical schema — mirroring Tables.t's drop on the
    # Spark side.
    if os.path.isdir(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{p}/**/*.parquet', hive_partitioning=0)")
    else:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
# graft.Verify records each failed dump's message (name -> message)
failures_path = f"{out_dir}/failures.json"
failures = json.load(open(failures_path)) if os.path.exists(failures_path) else {}

def missing(name):
    msg = failures.get(name, "no message recorded; see Verify stderr")
    print(f"MISSING {name}: query dump failed: {msg}")

def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        rr = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 9)
            rr.append(str(v))
        out.append(tuple(rr))
    return sorted(cols), sorted(out)

fails = []
for name in sorted(oracle):
    try:
        o = con.execute(oracle[name])
        ocols = [d[0] for d in o.description]
        orows = o.fetchall()
        s = con.execute(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
        scols = [d[0] for d in s.description]
        srows = s.fetchall()
        oc, orw = canon(orows, ocols)
        sc, srw = canon(srows, scols)
        if oc != sc:
            fails.append(name)
            print(f"FAIL {name}: cols oracle={oc} spark={sc}")
        elif orw != srw:
            fails.append(name)
            diff = [(a, b) for a, b in zip(orw, srw) if a != b]
            print(f"FAIL {name}: {len(orw)} vs {len(srw)} rows; first diffs (oracle, spark):")
            for a, b in diff[:3]:
                print(f"   oracle: {a}\n   spark : {b}")
            if len(orw) != len(srw):
                print(f"   row counts differ: oracle={len(orw)} spark={len(srw)}")
        else:
            print(f"PASS {name} ({len(srw)} rows)")
    except Exception as e:
        fails.append(name)
        print(f"ERROR {name}: {e}")

# rows-only queries (no oracle): check dump exists and rows > 0
import json as _json, os
declared = _json.load(open(f"{out_dir}/queries.json")) if os.path.exists(
    f"{out_dir}/queries.json") else []
for name in sorted(set(declared) - set(oracle)):
    d = f"{out_dir}/{name}/"
    if not os.path.isdir(d):
        fails.append(name)
        missing(name)
        continue
    try:
        n = con.execute(f"SELECT count(*) FROM '{d}*.parquet'").fetchone()[0]
        print(f"ROWS {name}: {n}{' (EMPTY!)' if n == 0 else ''}")
        if n == 0:
            fails.append(name)
    except Exception as e:
        fails.append(name)
        print(f"ERROR {name}: {e}")
# oracle-declared queries whose dump is missing
for name in sorted(set(oracle)):
    if not os.path.isdir(f"{out_dir}/{name}/"):
        fails.append(name)
        missing(name)

print(f"\n{'ALL PASS' if not fails else 'FAILURES: ' + ', '.join(sorted(set(fails)))}")
sys.exit(1 if fails else 0)
