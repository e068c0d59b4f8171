#!/usr/bin/env python3
"""Local mirror of the driver's DuckDB-oracle compare.

Usage: python3 tools/parity.py /root/testdata/sf0.01 /tmp/v01
Reads <out>/oracle_sql.json, runs each SQL in DuckDB over views named after
the sf-dir parquet tables, reads the Spark parquet dump for the same key,
sorts columns by name, and compares rows / dtypes / values exactly.

Usage: python3 tools/parity.py --base /tmp/v01_base /tmp/v01
Compares two Verify dumps, e.g. of a base commit and of a change:
manifest.json and oracle_sql.json must be byte-equal, and each key's dump
equal in columns, dtypes and rows under the same comparison.
"""
import sys, os, json, glob
import duckdb
import pandas as pd


def compare(sdf, odf, names=("spark", "oracle")):
    """Problems found comparing two frames: columns sorted by name, then
    row count, dtypes, and every value in row order (NaN equals NaN)."""
    x, y = names
    sdf = sdf.reindex(sorted(sdf.columns), axis=1)
    odf = odf.reindex(sorted(odf.columns), axis=1)
    problems = []
    if list(sdf.columns) != list(odf.columns):
        problems.append(f"cols {x}={list(sdf.columns)} {y}={list(odf.columns)}")
    elif len(sdf) != len(odf):
        problems.append(f"rows {x}={len(sdf)} {y}={len(odf)}")
    else:
        if list(map(str, sdf.dtypes)) != list(map(str, odf.dtypes)):
            problems.append(f"dtypes {x}={list(map(str,sdf.dtypes))} {y}={list(map(str,odf.dtypes))}")
        for c in sdf.columns:
            a, b = sdf[c], odf[c]
            if a.dtype == object or b.dtype == object:
                # list/array cells: canonicalize to tuples so == is scalar
                canon = lambda v: tuple(v.tolist()) if hasattr(v, "tolist") \
                    else (tuple(v) if isinstance(v, list) else v)
                a, b = a.map(canon), b.map(canon)
            neq = ~((a == b) | (a.isna() & b.isna()))
            if neq.any():
                i = neq.idxmax()
                problems.append(f"col {c}: {int(neq.sum())} diffs, first@{i}: {x}={a[i]!r} {y}={b[i]!r}")
    return problems


def read_dump(con, out_dir, k):
    files = glob.glob(f"{out_dir}/{k}/*.parquet")
    return con.sql(f"SELECT * FROM read_parquet({files!r})").df()


def compare_dumps(base_dir, out_dir):
    con = duckdb.connect()
    read = lambda d, f: open(f"{d}/{f}", "rb").read() if os.path.exists(f"{d}/{f}") else None
    fails = []
    for f in ("manifest.json", "oracle_sql.json"):
        if read(base_dir, f) is None or read(base_dir, f) != read(out_dir, f):
            print(f"{f:24s} DIFFERS OR MISSING")
            fails.append(f)
    dirs = lambda d: {k for k in os.listdir(d) if os.path.isdir(f"{d}/{k}")}
    bk, ck = dirs(base_dir), dirs(out_dir)
    for k in sorted(bk | ck):
        if k not in bk or k not in ck:
            print(f"{k:24s} ONLY IN {'BASE' if k in bk else 'CHANGE'}")
            fails.append(k)
            continue
        bdf, cdf = read_dump(con, base_dir, k), read_dump(con, out_dir, k)
        problems = compare(bdf, cdf, ("base", "change"))
        if problems:
            fails.append(k)
            print(f"{k:24s} FAIL  " + " | ".join(problems)[:400])
        else:
            print(f"{k:24s} EQUAL ({len(cdf)} rows)")
    n = len(bk | ck) + 2
    print(f"\n{n - len(fails)}/{n} equal (keys plus manifest and oracle_sql.json)"
          + (f"; DIFFERING: {fails}" if fails else ""))
    sys.exit(1 if fails else 0)


if sys.argv[1] == "--base":
    compare_dumps(sys.argv[2], sys.argv[3])

sf_dir, out_dir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for p in glob.glob(f"{sf_dir}/*.parquet"):
    t = os.path.basename(p)[:-8]
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
keys = sorted(d for d in os.listdir(out_dir) if os.path.isdir(f"{out_dir}/{d}"))
fails = []
# Verify's manifest makes a Spark-side query crash loud (ADVICE r17):
# a thrown query has no dump dir, so without this the denominator would
# silently shrink and the sweep would print e.g. "387/387 green".
# A dump without a manifest (a Verify JVM killed before writing it) can
# hide crashed queries, so it is an error, not a warning.
mpath = f"{out_dir}/manifest.json"
if not os.path.exists(mpath):
    print(f"ERROR: no manifest.json in {out_dir} — crashed queries would be "
          "invisible; re-run graft.Verify to completion", file=sys.stderr)
    sys.exit(1)
man = json.load(open(mpath))
for k in man.get("failed", []):
    print(f"{k:24s} SPARK QUERY FAILED (see Verify log)")
    fails.append(k)
missing = sorted(set(man.get("swept", [])) - set(keys) - set(man.get("failed", [])))
for k in missing:
    print(f"{k:24s} MISSING DUMP (swept but no parquet dir)")
    fails.append(k)
keys = sorted(set(keys) | set(fails))
for k in keys:
    if k in fails:
        continue  # failed/missing per manifest — already reported above
    sdf = read_dump(con, out_dir, k)
    if k not in oracle:
        print(f"{k:24s} rows-only: {len(sdf)} rows")
        continue
    try:
        odf = con.sql(oracle[k]).df()
    except Exception as e:
        print(f"{k:24s} ORACLE SQL ERROR: {str(e)[:160]}")
        fails.append(k); continue
    problems = compare(sdf, odf)
    if problems:
        fails.append(k)
        print(f"{k:24s} FAIL  " + " | ".join(problems)[:400])
    else:
        print(f"{k:24s} OK    ({len(sdf)} rows)")
print(f"\n{len(keys)-len(fails)}/{len(keys)} green" + (f"; FAILING: {fails}" if fails else ""))
# Machine-readable summary (ADVICE r18): the sweep ledger records THIS
# tally — parity.py's actual pass/fail verdict — instead of inferring
# green from Verify's manifest (which only knows about Spark-side
# crashes, not value mismatches).
with open(f"{out_dir}/parity_summary.json", "w") as f:
    json.dump({"green": len(keys) - len(fails), "total": len(keys),
               "failing": sorted(fails)}, f)
sys.exit(1 if fails else 0)
