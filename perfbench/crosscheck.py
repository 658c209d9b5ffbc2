#!/usr/bin/env python3
"""Regenerate the expected result digests, cross-checked against DuckDB.

    python3 perfbench/crosscheck.py

Runs every dashboard_adhoc request and corpus_batch job once in Spark
(perfbench.Dump), writes each full result as parquet, runs the engine's
DuckDB oracle SQL for the same face (SparkEntry.oracleSql; for a SQL-fuzz
face, the same SQL text) over the same input tables, and compares the two
row sets exactly (columns by name, rows in any order). Only results that
match DuckDB are written to perfbench/expected/<workload>.tsv; the
per-face verdicts go to perfbench/expected/crosscheck.json. Exits 1 if
any face does not match.
"""
import glob
import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    """Comparable form of one value (NaN and None alike, arrays as tuples)."""
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    if hasattr(v, "isoformat"):
        # a midnight timestamp equals the date it truncates to (Spark's
        # date_trunc keeps the timestamp type, DuckDB's returns a date;
        # the repository's own oracle gate compares them equal too)
        if hasattr(v, "hour") and (v.hour, v.minute, v.second, v.microsecond) == (0, 0, 0, 0):
            return v.date().isoformat()
        return v.isoformat()
    return v


def rows_of(con, sql):
    rel = con.sql(sql)
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(norm(r[i]) for i in order) for r in rel.fetchall()]
    return [cols[i] for i in order], sorted(rows, key=repr)


def main():
    import duckdb
    cp = build.build()
    out = os.path.join(HERE, ".out", "crosscheck")
    shutil.rmtree(out, ignore_errors=True)
    cmd = ["java"] + [x for p in run.JVM_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Xmx3g", "-cp", cp, "perfbench.Dump", run.DATA, out]
    subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL)
    manifest = json.load(open(os.path.join(out, "manifest.json")))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{run.DATA}/{t}.parquet/*.parquet'")
    verdicts, bad = {}, []
    for name, m in sorted(manifest.items()):
        try:
            ecols, exp = rows_of(con, m["oracle_sql"])
            gcols, got = rows_of(con, f"SELECT * FROM '{out}/{name}/*.parquet'")
            ok = ecols == gcols and exp == got
            why = "" if ok else (f"columns {gcols} vs {ecols}" if ecols != gcols
                                 else f"{len(got)} rows vs {len(exp)}; first diff "
                                 f"{next((g, e) for g, e in zip(got + [None], exp + [None]) if g != e)}")
        except Exception as e:  # an oracle that fails to run is a failed check
            ok, why = False, f"{type(e).__name__}: {e}"
        verdicts[name] = {"workload": m["workload"], "rows": m["rows"], "digest": m["digest"],
                          "duckdb_match": ok, **({"why": why[:300]} if why else {})}
        print(f"{'PASS' if ok else 'FAIL'} {name} ({m['rows']} rows){'' if ok else ': ' + why[:200]}")
        if not ok:
            bad.append(name)
    for w in sorted({v["workload"] for v in verdicts.values()}):
        with open(os.path.join(HERE, "expected", w + ".tsv"), "w") as f:
            f.write(f"# result digests of {w} (rows:hashA:hashB), DuckDB-cross-checked "
                    "by perfbench/crosscheck.py\n")
            for n, v in sorted(verdicts.items()):
                if v["workload"] == w and v["duckdb_match"]:
                    f.write(f"{n}\t{v['digest']}\n")
    with open(os.path.join(HERE, "expected", "crosscheck.json"), "w") as f:
        json.dump(verdicts, f, indent=1, sort_keys=True)
    print(f"{len(verdicts) - len(bad)}/{len(verdicts)} faces match DuckDB")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
