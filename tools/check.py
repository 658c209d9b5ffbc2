#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run graft.Verify via sbt,
then execute each oracle SQL in DuckDB over the same parquet tables and
compare against the Spark-written result parquet (columns sorted by name,
exact value compare).
Usage: python3 tools/check.py [sfDir] [--skip-verify] [--allow-stale]
(--allow-stale: tolerate a filtered Verify's stale-skipped dumps — local
iteration only; without it any stale skip fails the gate.)
"""
import json, subprocess, sys, os

SF = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("-") else "/root/testdata/sf0.01"
OUT = "/tmp/graft_verify"
REPORT = None
for i, a in enumerate(sys.argv):
    if a == "--out" and i + 1 < len(sys.argv):
        OUT = sys.argv[i + 1]
    if a == "--report" and i + 1 < len(sys.argv):
        REPORT = sys.argv[i + 1]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

if "--skip-verify" not in sys.argv:
    r = subprocess.run(
        ["sbt", "-batch", f'runMain graft.Verify {SF} {OUT}'],
        cwd="/root/repo", capture_output=True, text=True, timeout=1800)
    sys.stdout.write(r.stdout[-3000:])
    sys.stderr.write(r.stderr[-3000:])
    if r.returncode != 0:
        sys.exit("verify run failed")

import duckdb
import pandas as pd

con = duckdb.connect()
for t in TABLES:
    # driver testdata ships single files; repo-generated (sf1) tables are
    # Spark-written directories — glob those
    src = f"{SF}/{t}.parquet"
    if os.path.isdir(src):
        src += "/*.parquet"
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

oracle = json.load(open(f"{OUT}/oracle_sql.json"))

# A FILTERED Verify rewrote only the listed dumps; every other dump on disk
# is from an older code state. Comparing those would print PASS against
# stale outputs — the exact false blessing the marker exists to prevent —
# so they are flagged STALE and skipped, not compared. The marker records
# BOTH the requested and the succeeded set: a query that was requested but
# produced no dump THREW during Verify — that is a FAIL, not a stale skip
# (Verify deleted its old dump before the failed rewrite).
marker = f"{OUT}/FILTERED_RUN"
fresh = requested = None
if os.path.exists(marker):
    txt = open(marker).read()
    try:
        m = json.loads(txt)
        fresh, requested = set(m["succeeded"]), set(m["requested"])
    except (json.JSONDecodeError, KeyError, TypeError):
        # pre-round-5 plain-text marker: names are the succeeded set and
        # nothing more is known about what was requested
        fresh = set(txt.split())
        requested = set(fresh)

fails = []
stale = []
results = {}
for name, sql in sorted(oracle.items()):
    if fresh is not None and name not in fresh:
        if name in requested:
            fails.append(name)
            print(f"FAIL {name}: requested by the filtered Verify run but no dump was "
                  f"written — the query threw (see the Verify stderr)")
        else:
            stale.append(name)
            print(f"STALE {name}: dump predates the last (filtered) Verify run — not compared")
        continue
    path = f"{OUT}/{name}"
    if not os.path.isdir(path):
        fails.append(name); print(f"FAIL {name}: no spark output"); continue
    try:
        exp = con.execute(sql).fetchdf()
    except Exception as e:
        fails.append(name); print(f"FAIL {name}: oracle error: {e}"); continue
    got = con.execute(f"SELECT * FROM '{path}/*.parquet'").fetchdf()
    # Harness-parity guard: the driver reads the two sides through different
    # stacks, and decimal columns hash differently per stack (round-1 lesson:
    # every hash mismatch had a decimal output column). Forbid them outright.
    import pyarrow.parquet as pq
    import glob as _glob
    deccols = [f.name for pf in _glob.glob(f"{path}/*.parquet")
               for f in pq.read_schema(pf)
               if "decimal" in str(f.type)]
    if deccols:
        fails.append(name)
        print(f"FAIL {name}: decimal output columns {sorted(set(deccols))} (driver hashes these differently per engine)")
        continue
    exp = exp[sorted(exp.columns)]
    got = got[sorted(got.columns)]
    if list(exp.columns) != list(got.columns):
        fails.append(name)
        print(f"FAIL {name}: cols exp={list(exp.columns)} got={list(got.columns)}")
        continue
    if exp.shape != got.shape:
        fails.append(name)
        print(f"FAIL {name}: shape exp={exp.shape} got={got.shape}")
        continue
    bad = []
    for c in exp.columns:
        e, g = exp[c], got[c]
        try:
            eq = (e.isna() & g.isna()) | (e == g)
        except Exception:
            eq = e.astype(str) == g.astype(str)
        if not eq.all():
            idx = eq.idxmin()
            bad.append(f"{c} (dtype {e.dtype}/{g.dtype}) row{idx}: exp={e[idx]!r} got={g[idx]!r}")
    if bad:
        fails.append(name)
        print(f"FAIL {name}: {len(bad)} cols differ; first: {bad[0]}")
    else:
        results[name] = {"status": "pass", "rows": int(exp.shape[0]),
                         "cols": int(exp.shape[1])}
        print(f"PASS {name} ({exp.shape[0]} rows x {exp.shape[1]} cols)")

if fresh is not None:
    print(f"\nWARNING: outDir was last written by a FILTERED Verify run "
          f"({len(fresh)} queries: {', '.join(sorted(fresh)[:5])}{'…' if len(fresh) > 5 else ''}); "
          f"{len(stale)} stale dumps were SKIPPED, not blessed — rerun an "
          f"unfiltered Verify for a full compare")

# Per-family tally for each family with a failure or a stale dump, from
# the name -> family map Verify writes next to oracle_sql.json. A dump
# without it predates the family tags: no grouping then, and no failure.
families_path = f"{OUT}/families.json"
if os.path.exists(families_path):
    family = json.load(open(families_path))
    for fam in sorted({family[n] for n in fails + stale}):
        names = [n for n in oracle if family[n] == fam]
        fam_stale = sum(n in stale for n in names)
        fam_compared = len(names) - fam_stale
        fam_passed = fam_compared - sum(n in fails for n in names)
        print(f"family {fam}: {fam_passed}/{fam_compared}"
              + (f" ({fam_stale} stale skipped)" if fam_stale else ""))

compared = len(oracle) - len(stale)
print(f"\n{compared - len(fails)}/{compared} compared queries pass"
      + (f" ({len(stale)} stale skipped)" if stale else ""))
if REPORT:
    for f in fails:
        results.setdefault(f, {"status": "fail"})["status"] = "fail"
    json.dump({"sf_dir": SF, "compared": compared, "passed": compared - len(fails),
               "failed": sorted(fails), "stale_skipped": len(stale),
               "queries": {k: results[k] for k in sorted(results)}},
              open(REPORT, "w"), indent=1)
    print(f"report written to {REPORT}")
# comparing NOTHING is a failure, not a pass: a marker naming zero (or
# only unknown) queries would otherwise let a scripted gate go green
# with no coverage at all
if compared == 0:
    print("ERROR: zero queries compared — nothing was verified")
    sys.exit(1)
# a PARTIALLY stale run is not a green run either: an automated caller
# reading exit 0 would bless queries that were never compared. Local
# iteration on a few queries opts in explicitly with --allow-stale.
if stale and "--allow-stale" not in sys.argv:
    print(f"ERROR: {len(stale)} stale dumps were skipped, not verified — "
          f"rerun an unfiltered Verify (or pass --allow-stale for local iteration)")
    sys.exit(1)
sys.exit(1 if fails else 0)
